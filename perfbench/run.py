#!/usr/bin/env python3
"""The repository's benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload query_floor --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into the build directory
(``$CARGO_TARGET_DIR``, default ``.bench_build``); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the seed,
sets a Spark session up several times (``setup_s`` is the median), runs the
workload's operations in a closed loop with one client for ``--seconds``,
checks every output, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones from a traced run (spans
go to ``<build dir>/traces/``). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("query_floor", "similarity_joins", "mri_ingest")
RUN_LIMIT_S = 170
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of everything the build reads, to skip rebuilding unchanged code."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src/main"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile program + harness; return (runtime classpath, built now)."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    # every JVM the sbt script starts (its version probe too) keeps its
    # perf-data file out of the system temp dir
    env["JAVA_TOOL_OPTIONS"] = " ".join([env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp[-1], True


def tables_dir(out):
    """The query tables, generated once per checkout (fixed data seed)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(out, "data", f"tables-{gen.TABLE_SEED}-{tag}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_tables(d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def mri_expected(n_vol, shape=gen.VOLUME_SHAPE, dark_x=gen.DARK_X, crop=128, step=64):
    """Slice and record counts of the MRI job, from the geometry alone."""
    sx, sy, sz = shape

    def axis(n):
        base = list(range(0, max(1, n - crop + 1), step))
        return base + [n - crop] if n - (base[-1] + crop) > 0 else base

    def dark(x0):
        return max(0, min(x0 + crop, dark_x) - x0) / crop > 0.7

    # (slices, x-axis grid, other-axis grid) per orientation; x runs along
    # the rows of axial slices and along the columns of the other two
    orients = [(sz, axis(sx), axis(sy)), (sz, axis(sx), axis(sy)),
               (sy, axis(sx), axis(sz))]
    hr = sum(n * sum(not dark(x0) for x0 in xs) * len(other)
             for n, xs, other in orients)
    return {"slices": n_vol * sum(o[0] for o in orients),
            "entries": 2 * n_vol * hr,
            "payload_bytes": n_vol * sx * sy * sz * 4}


def java_cmd(cp, work):
    return (["java"] + JAVA_OPENS +
            ["-XX:-UsePerfData", "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "graft.perfbench.Main"])


def run_harness(cmd, work, deadline):
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness timed out")
        finally:
            # never leave the JVM behind: timeout, SIGTERM or any other exit
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited {rc}")


def main(argv=None):
    t_start = time.time()
    # turn SIGTERM into an exception so the harness is stopped and the work
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write expected query outputs to this dir")
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))):
        fail("run from the root of a checkout of the program (no build.sbt / sources here)")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    cp, built = build(root, out)
    # the run after a build gets the whole limit; otherwise it counts from start
    deadline = (time.time() if built else t_start) + RUN_LIMIT_S

    work = os.path.join(out, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tables = tables_dir(out)
        args = ["--cores", str(os.cpu_count() or 1), "--work", work, "--tables", tables]
        if a.record:
            order = os.path.join(work, "order.txt")
            with open(order, "w") as f:
                f.write("\n".join(spec["query_floor"] + spec["similarity_joins"]))
            run_harness(java_cmd(cp, work) + args + ["--order", order, "--record",
                        os.path.abspath(a.record)], work, time.time() + 1800)
            return
        gen_t0 = time.time()
        if a.workload == "mri_ingest":
            vols = os.path.join(work, "volumes")
            os.makedirs(vols)
            for v in range(spec["mri_volumes"]):
                gen.write_volume(os.path.join(vols, f"vol{v}.nii"), a.seed, v)
            expected = mri_expected(spec["mri_volumes"])
            args += ["--volumes", vols]
        else:
            with open(os.path.join(work, "order.txt"), "w") as f:
                f.write("\n".join(gen.query_order(spec[a.workload], a.seed)))
            with open(os.path.join(HERE, "expected", "queries.json")) as f:
                expected = json.load(f)
            args += ["--order", os.path.join(work, "order.txt")]
        gen_s = time.time() - gen_t0
        exp_file = os.path.join(work, "expected.json")
        with open(exp_file, "w") as f:
            json.dump(expected, f)
        res_file = os.path.join(work, "result.json")
        spans_file = os.path.join(work, "spans.json")
        args += ["--workload", a.workload, "--seconds", str(a.seconds),
                 "--trace", str(a.trace),
                 "--expected", exp_file, "--out", res_file, "--spans", spans_file,
                 "--kernel_slice", f"{gen.VOLUME_SHAPE[0]},{gen.VOLUME_SHAPE[1]},{gen.DARK_X}"]
        run_harness(java_cmd(cp, work) + args, work, deadline)
        with open(res_file) as f:
            result = json.load(f)
        report(a, out, result, spans_file, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# metric names and units come from BENCHMARK.json; these are reported on the
# detail line only, where a workload has them
DETAIL_UNITS = {"slices_per_s": "1/s", "failed_frac": "frac"}


def report(a, out, result, spans_file, gen_s):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {x["name"]: x["unit"] for x in spec["end_to_end"]}
    samples = result["samples"]
    failed = [s for s in samples if s["error"] is not None]
    m, detail = stats.end_to_end(result)
    detail.update(workload=a.workload, seed=a.seed, cores=result["cores"],
                  attempted=len(samples), input_gen_s=round(gen_s, 3),
                  setup_runs_s=result["setup_s"], cache_mb=result["cache_mb"],
                  prewarm=result["prewarm"], leaked_streams=result["leaked_streams"],
                  failed_ops=sorted({f"{s['name']}: {s['error']}" for s in failed}),
                  samples=[[s["name"], round(s["build_s"], 4), round(s["exec_s"], 4)]
                           for s in samples])
    if "read_amplification" in result:
        detail["read_amplification"] = result["read_amplification"]
    prewarm_failed = [k for k, v in result["prewarm"].items() if v["error"]]
    correct = not failed and not prewarm_failed and bool(samples)
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    last_untraced = os.path.join(out, "results", f"{a.workload}.json")
    if a.trace:
        layers = dict(result["per_layer"])
        with open(spans_file) as f:
            spans = json.load(f)
        n_ops = max(len(samples), 1)
        for kind, secs in stats.self_time_by_kind(spans).items():
            layers[f"self.{kind}_s"] = secs / n_ops
        os.makedirs(os.path.join(out, "traces"), exist_ok=True)
        trace_path = os.path.join(out, "traces", f"{a.workload}-{a.seed}.json")
        shutil.copyfile(spans_file, trace_path)
        listed = {x["name"]: x["unit"] for x in spec["per_layer"]}
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in listed.items()}
        detail["per_layer_other"] = {k: v for k, v in layers.items() if k not in listed}
        detail["spans"] = trace_path
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
            detail["tracing_overhead"] = {k: m[k] - base[k] for k in e2e if k in m and k in base}
    else:
        metrics = {k: {"value": m[k], "unit": e2e[k]} for k in e2e if k in m}
        with open(last_untraced, "w") as f:
            json.dump(m, f)
    detail["end_to_end"] = {k: {"value": v, "unit": e2e[k]} for k, v in m.items()}
    for k, unit in DETAIL_UNITS.items():
        if k in detail:
            detail["end_to_end"][k] = {"value": detail[k], "unit": unit}
    if a.workload == "similarity_joins":
        detail["end_to_end"]["cache_mb"] = {"value": result["cache_mb"], "unit": "MB"}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": len(samples),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
