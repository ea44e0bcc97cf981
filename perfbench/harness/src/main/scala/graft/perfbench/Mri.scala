package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.MriPipeline
import graft.functions.{Degrade, Image, Npy}
import graft.model.KvRecord
import graft.sinks.LmdbStore
import graft.sources.{Nifti, NiftiSource}

/** The paper's batch job through the shipping pipeline: NIfTI → oriented
  * slices → header split plan → 3tFlash degrade, tile, dark gate, `.npy` →
  * one bulk LMDB write. */
final class Mri(spark: SparkSession, volumes: String, storeRoot: String,
    expected: com.fasterxml.jackson.databind.JsonNode) {
  val Crop = 128
  val Step = 64
  val Preset = "3tFlash"
  private val payloadBytes = expected.get("payload_bytes").asLong
  private var runs = 0
  /** NIfTI bytes the last ingest read (pixel planes plus 352-byte headers). */
  var bytesRead = 0L

  def records(): Dataset[KvRecord] = {
    val sl = MriPipeline.slicesLazy(spark, volumes)
    val plan = MriPipeline.planSplitFromHeaders(spark, volumes)
    MriPipeline.degradeToRecords(sl, plan, Preset, crop = Crop, step = Step)
  }

  def op: Op[_, _] = Op[(Dataset[KvRecord], String), (String, Long)]("mri_ingest",
    build = () => {
      runs += 1
      (records(), new File(storeRoot, s"store-$runs").getPath)
    },
    execute = { case (rec, store) =>
      val before = NiftiSource.bytesRead.get()
      MriPipeline.writeStore(rec, store, format = "lmdb")
      (store, NiftiSource.bytesRead.get() - before)
    },
    check = { case (store, bytes) =>
      bytesRead = bytes
      try audit(store, bytes) finally deleteTree(new File(store))
    })

  def slicesPerOp: Long = expected.get("slices").asLong

  def readAmplification: Double = bytesRead.toDouble / payloadBytes

  /** Entry count, HR/LR pairing, split labels against the header plan,
    * `.npy` header of every value, and the 4.0 read amplification (one clip
    * pass plus three orientations; the 352-byte header reads the counter
    * also sees add well under 0.001). */
  def audit(store: String, bytes: Long): Option[String] = {
    val rows = LmdbStore.read(spark, store)
      .select(col("key"), expr("substring(value, 1, 128)").as("head")).collect()
    val plan = MriPipeline.planSplitFromHeaders(spark, volumes).collect()
      .map(l => l.sliceId -> l.split).toMap
    val problems = Seq.newBuilder[String]
    val want = expected.get("entries").asLong
    if (rows.length != want) problems += s"entries ${rows.length} != $want"
    val hr = Set.newBuilder[String]
    val lr = Set.newBuilder[String]
    rows.foreach { r =>
      val key = r.getString(0)
      key.split("/", 3) match {
        case Array(split, tier, rest) =>
          val slice = rest.replaceAll("__s\\d+$", "")
          if (!plan.get(slice).contains(split)) problems += s"$key: split not $split in plan"
          val side = tier match {
            case "HR" => hr += rest; Crop
            case "LRx2" => lr += rest; Crop / 2
            case other => problems += s"$key: tier $other"; -1
          }
          npyProblem(r.getAs[Array[Byte]](1), side).foreach(p => problems += s"$key: $p")
        case _ => problems += s"bad key $key"
      }
    }
    val (h, l) = (hr.result(), lr.result())
    if (h != l) problems += s"HR/LR keys unpaired: ${(h diff l).size} HR-only, ${(l diff h).size} LR-only"
    if (math.abs(bytes.toDouble / payloadBytes - 4.0) >= 0.001)
      problems += s"read amplification ${bytes.toDouble / payloadBytes} != 4.0"
    val all = problems.result()
    if (all.isEmpty) None else Some(all.take(5).mkString("; "))
  }

  private def npyProblem(head: Array[Byte], side: Int): Option[String] = {
    if (head.length < 10 || head(0) != 0x93.toByte ||
      new String(head, 1, 5, StandardCharsets.US_ASCII) != "NUMPY") return Some("not .npy")
    val dict = new String(head, 10, head.length - 10, StandardCharsets.US_ASCII)
    if (!dict.contains("'descr': '<f4'")) Some("dtype not <f4")
    else if (!dict.contains(s"'shape': ($side, $side)")) Some(s"shape not ($side, $side)")
    else None
  }

  /** Each stage materialized alone (noop sink), the header scan, and the
    * LMDB write of pre-materialized records. */
  def stageTimes(): Map[String, Double] = {
    def noop(df: DataFrame): Double = secs(df.write.format("noop").mode("overwrite").save())
    val sl = MriPipeline.slicesLazy(spark, volumes).toDF()
    val slicesS = noop(sl)
    val planS = noop(MriPipeline.planSplitFromHeaders(spark, volumes).toDF())
    val recordsS = noop(records().toDF())
    val headerS = secs(Nifti.headers(spark, volumes).collect())
    val rec = records().select("key", "value").localCheckpoint()
    val store = new File(storeRoot, "stage-store")
    val writeS = secs(LmdbStore.write(rec, store.getPath))
    val entries = LmdbStore.read(spark, store.getPath).count()
    val mb = treeBytes(store) / 1e6
    deleteTree(store)
    Map("mri.slices_s" -> slicesS, "mri.split_plan_s" -> planS, "mri.records_s" -> recordsS,
      "sources.header_scan_s" -> headerS, "sinks.lmdb_write_s" -> writeS,
      "sinks.entries" -> entries.toDouble, "sinks.store_mb" -> mb)
  }

  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
    ()
  }
}

object Mri {

  /** Single-thread kernel timings on one slice shaped like the workload's
    * axial slices (bright noise, dark rows x < darkX): median of repeats. */
  def kernels(h: Int, w: Int, darkX: Int): Map[String, Double] = {
    val rnd = new scala.util.Random(7)
    val px = Array.tabulate(h * w)(i => if (i / w < darkX) 0f else 0.4f + 0.6f * rnd.nextFloat())
    def median(reps: Int)(f: => Any): Double = {
      val ts = (1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble }
      ts.sorted.apply(reps / 2)
    }
    val degradeNs = median(9)(Degrade.degradePreset(px, h, w, "3tFlash", 123L))
    var kept = 0
    var total = 0
    val tileNs = median(21) {
      val (hs, ws) = Image.makeCropSpaces(h, w, 128, 64, 0)
      kept = 0; total = 0
      for (y <- hs; x <- ws) {
        total += 1
        if (!Image.patchIsDark(Image.extractPatch(px, h, w, y, x, 128))) kept += 1
      }
    }
    val patch = Image.extractPatch(px, h, w, h - 128, 0, 128)
    val npyNs = median(301)(Npy.encode(patch, Seq(128, 128)))
    Map("functions.degrade_ms" -> degradeNs / 1e6, "functions.tile_filter_ms" -> tileNs / 1e6,
      "functions.npy_encode_us" -> npyNs / 1e3,
      "functions.patch_keep_frac" -> kept.toDouble / math.max(total, 1))
  }
}
