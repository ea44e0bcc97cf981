package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators.{CorpusOps, CurationOps, TextOps, VectorOps}
import graft.streaming.EventStreams

/** Benchmark harness: sets a session up several times, runs one workload's
  * operations in a closed loop for a fixed time, checks every output, and
  * writes the raw samples (and, traced, per-layer numbers and spans) as
  * JSON. `perfbench/run.py` builds, generates the inputs and turns the
  * samples into metrics.
  *
  * Arguments (all `--key value`): workload, seconds, trace (0|1), cores,
  * work (scratch dir), tables, order (one query name per line), volumes,
  * expected (JSON), out (result JSON), spans (span JSON),
  * kernel_slice (h,w,darkX of the kernel-timing slice). With
  * `--record DIR` it instead runs every query in `order` twice and writes
  * the expected row counts and digests plus each result as parquet, in the
  * layout `tools/check_oracle.py` reads. */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    System.setProperty("derby.system.home", work)
    if (a.contains("record")) record(a, cores, work)
    else bench(a, cores, work)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.graft.stream.benchParts", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Prewarm families of a workload: name → build. They run concurrently,
    * one thread each, like a production job's cache-building step. */
  private def families(s: SparkSession, workload: String, tables: String): Seq[(String, () => Unit)] =
    workload match {
      case "query_floor" => Seq("stream_staging" -> (() => EventStreams.prewarmStaging(s, tables)))
      case "similarity_joins" => Seq(
        "text" -> (() => TextOps.prewarmShared(s, tables)),
        "vector" -> (() => VectorOps.prewarmShared(s, tables)),
        "corpus" -> (() => CorpusOps.prewarmShared(s, tables)),
        "curation" -> (() => CurationOps.prewarmShared(s, tables)))
      case _ => Seq.empty
    }

  /** (family → (seconds, error)) */
  private def prewarm(fams: Seq[(String, () => Unit)]): Map[String, (Double, Option[String])] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(fams.size, 1))
    try {
      fams.map { case (name, build) =>
        name -> pool.submit(new java.util.concurrent.Callable[(Double, Option[String])] {
          def call(): (Double, Option[String]) = {
            val t0 = System.nanoTime()
            val err = try { build(); None } catch {
              case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
            }
            ((System.nanoTime() - t0) / 1e9, err)
          }
        })
      }.map { case (name, f) => name -> f.get() }.toMap
    } finally pool.shutdown()
  }

  /** Session warm-up: generic join, aggregate, sort and window jobs, and
    * for the query workloads one streaming aggregation on the drain
    * session, over inputs of its own. The first measured query then pays
    * mostly for its own plan, whatever the seeded order puts first. */
  private def warmUp(s: SparkSession, work: String, streaming: Boolean): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val a = s.range(200000).selectExpr("id", "id % 97 AS k", "CAST(id AS DOUBLE) * 0.5 AS v")
    val b = s.range(97).selectExpr("id AS k", "CAST(id AS STRING) AS name")
    a.join(b, "k").groupBy("name").agg(sum("v"), count(lit(1))).orderBy("name").collect()
    a.withColumn("r", row_number().over(Window.partitionBy("k").orderBy(col("v").desc)))
      .filter(col("r") < 3).collect()
    if (streaming) {
      val dir = new File(work, "warmup-stream").getPath
      s.range(500).selectExpr("id", "timestamp_seconds(id * 60) AS ts")
        .write.mode("overwrite").parquet(dir)
      val ss = EventStreams.drainSession(s)
      val q = ss.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour")).count()
        .writeStream.format("memory").queryName("perfbench_warmup")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  private def lines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toIndexedSeq

  def queryOp(s: SparkSession, name: String, tables: String,
      expected: com.fasterxml.jackson.databind.JsonNode): Op[_, _] = {
    val fn = SparkEntry.queries.getOrElse(name,
      (_: SparkSession, _: String) => throw new NoSuchElementException(s"no query $name"))
    Op[DataFrame, Array[Row]](name,
      build = () => fn(s, tables),
      execute = df => df.collect(),
      check = rows => {
        val (n, d) = Digest.of(rows)
        Option(expected.get(name)) match {
          case None => Some("no expected output recorded")
          case Some(e) if e.get("rows").asLong != n => Some(s"rows $n != ${e.get("rows").asLong}")
          case Some(e) if !e.get("digest").isNull && e.get("digest").asText != d =>
            Some(s"digest $d != ${e.get("digest").asText}")
          case _ => None
        }
      })
  }

  private def stopStreams(s: SparkSession): Int = {
    val live = s.streams.active ++ EventStreams.activeDrainStreams(s)
    live.foreach(q => try q.stop() catch { case _: Throwable => })
    live.length
  }

  private def bench(a: Map[String, String], cores: Int, work: String): Unit = {
    val workload = a("workload")
    val trace = a("trace") == "1"
    val tables = a("tables")
    val expected = Json.read(a("expected"))
    val Array(kh, kw, kdark) = a("kernel_slice").split(',').map(_.toInt)
    val setupTimes = ArrayBuffer.empty[Double]
    var warm: Map[String, (Double, Option[String])] = Map.empty
    var spark: SparkSession = null
    var recorder: Recorder = null
    // set up several times; the last session is the one measured (and traced)
    for (i <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      if (trace && i == Setups) {
        recorder = new Recorder
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      warmUp(spark, work, streaming = workload == "query_floor")
      // the MRI job's kernels JIT-compile on a driver-side slice first
      if (workload == "mri_ingest") Mri.kernels(kh, kw, kdark)
      warm = prewarm(families(spark, workload, tables))
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val s = spark
    val mri = if (workload == "mri_ingest")
      Some(new Mri(s, a("volumes"), new File(work, "stores").getPath, expected)) else None
    val ops = mri.map(m => IndexedSeq(m.op))
      .getOrElse(lines(a("order")).map(q => queryOp(s, q, tables, expected)))
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val samples = Loop.run(ops, a("seconds").toDouble)
    val leaked = stopStreams(s)
    val cacheMb = s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cores" -> cores,
      "setup_s" -> setupTimes.toSeq,
      "prewarm" -> warm.map { case (k, (t, e)) => k -> Map("s" -> t, "error" -> e) },
      "samples" -> samples.map(x => Map("name" -> x.name, "build_s" -> x.buildNs / 1e9,
        "exec_s" -> x.execNs / 1e9, "error" -> x.error)),
      "leaked_streams" -> leaked,
      "cache_mb" -> cacheMb)
    mri.foreach { m =>
      out("slices_per_op") = m.slicesPerOp
      out("read_amplification") = m.readAmplification
    }
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(s.sparkContext)
      def ms(ns: Long) = epochOffsetMs + ns / 1e6
      // (start, end of build, end of execution) of each op, epoch ms
      val byOp = samples.map(x => (ms(x.startNs), ms(x.startNs + x.buildNs), ms(x.startNs + x.latencyNs)))
      val layers = scala.collection.mutable.LinkedHashMap[String, Double]() ++
        recorder.layers(byOp, cores)
      warm.foreach { case (k, (t, _)) => layers(s"session_cache.prewarm_s.$k") = t }
      if (warm.nonEmpty) {
        layers("session_cache.prewarm_ok") = warm.count(_._2._2.isEmpty).toDouble / warm.size
        layers("session_cache.cached_mb") = cacheMb
      }
      mri.foreach { m =>
        layers("sources.bytes_read") = m.bytesRead.toDouble
        layers("sources.read_amplification") = m.readAmplification
        layers ++= m.stageTimes()
      }
      layers ++= Mri.kernels(kh, kw, kdark)
      var id = 0
      def span(parent: Int, trace: String, kind: String, name: String, s0: Double, e: Double) = {
        id += 1
        Span(id, parent, trace, kind, name, s0, e)
      }
      val root = span(0, "run", "workload", workload,
        byOp.headOption.map(_._1).getOrElse(0.0), byOp.lastOption.map(_._3).getOrElse(0.0))
      val opSpans = root +: samples.zip(byOp).zipWithIndex.flatMap { case ((x, (s0, b, e)), i) =>
        val op = span(root.id, s"op-$i", "op", x.name, s0, e)
        Seq(op, span(op.id, op.trace, "build", "build", s0, b),
          span(op.id, op.trace, "execution", "execution", b, e))
      }
      val spans = recorder.spans(opSpans, id)
      Json.save(a("spans"), spans)
      out("per_layer") = layers
    }
    Json.save(a("out"), out)
    s.stop()
  }

  private def record(a: Map[String, String], cores: Int, work: String): Unit = {
    val s = session(cores, work)
    val tables = a("tables")
    val dir = new File(a("record"))
    dir.mkdirs()
    val names = lines(a("order"))
    val got = names.map { n =>
      def once() = try {
        val rows = SparkEntry.queries(n)(s, tables).collect()
        Some((rows, Digest.of(rows)))
      } catch { case e: Throwable =>
        System.err.println(s"[record] $n failed: ${e.getMessage}")
        None
      }
      val first = once()
      val second = once()
      stopStreams(s)
      first.foreach { case (rows, _) =>
        val df = SparkEntry.queries(n)(s, tables)
        s.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(dir, n).getPath)
      }
      val stable = first.map(_._2) == second.map(_._2)
      n -> Map("rows" -> first.map(_._2._1), "digest" -> first.filter(_ => stable).map(_._2._2),
        "stable" -> stable, "failed" -> first.isEmpty)
    }
    Json.save(new File(dir, "expected.json").getPath, scala.collection.immutable.ListMap(got: _*))
    Json.save(new File(dir, "oracle_sql.json").getPath,
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    s.stop()
  }
}
