#!/usr/bin/env python3
"""perfbench: the repo's benchmark, one workload per invocation.

    python3 perfbench/run.py --workload meter_ingest --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. A run then

  1. generates the workload's inputs from the seed (gen.py owns the
     generators; `gen.py --check` shows they are deterministic);
  2. starts one JVM (`perfbench.Main`) with the engine's own heap setting
     (`-Xmx$SPARK_DRIVER_MEM`, default 8g, as the root build.sbt) that
     builds a Spark session the way `graft.Bench` does, sets the workload
     up, measures a fixed amount of work sized by `--seconds`, and checks
     its outputs;
  3. for offline_batch, compares every job with an oracle twin against
     DuckDB on the generated directory (the DuckDB side runs while the JVM
     writes the job outputs, after the measured passes);
  4. prints one JSON line: the end-to-end metrics (`--trace 0`) or the
     per-layer metrics of a traced run (`--trace 1`).

It exits non-zero on a failed build, a failed check or a failed operation.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

T_START = time.time()
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True     # keep the checkout free of __pycache__
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175    # the run must end within 180 s of its start

WORKLOADS = ("meter_ingest", "offline_batch")
# every workload reports the same end-to-end metrics. An op is a round
# (latency: a drop's freshness, landed -> queryable) on meter_ingest and a
# job (latency: submitted -> result written) on offline_batch; makespan_s
# is the time for the workload's fixed list of work: the timed rounds, or
# one pass of the job list.
E2E = [("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
       ("makespan_s", "s")]

JOBS = ["dedup_exact", "dedup_minhash", "dedup_clusters", "sim_knn_ivf",
        "sim_knn_ivfpq", "pipeline_gopher_rules",
        "pipeline_quality_classifier", "ts_pattern_match"]
PER_LAYER = (
    [("influxql.parse_ms", "ms"), ("influxql.translate_ms", "ms"),
     ("spark.plan_ms", "ms"), ("spark.codegen_compile_ms", "ms"),
     ("spark.jobs", "count"), ("spark.stages", "count"),
     ("spark.tasks", "count"), ("spark.exec_ms", "ms"),
     ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
     ("spark.gc_ms", "ms"), ("spark.shuffle_read_bytes", "bytes"),
     ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
     ("spark.scan_files", "count"), ("spark.scan_rows", "count"),
     ("spark.rows_scanned_per_row_returned", "ratio"),
     ("store.upsert_ms", "ms"), ("store.compact_ms", "ms"),
     ("store.retention_ms", "ms"), ("store.read_ms", "ms"),
     ("store.files_per_day", "count"), ("store.files_scanned_ratio", "ratio"),
     ("store.bytes_written_per_point", "bytes"),
     ("store.bytes_per_point", "bytes"),
     ("store.rows_rewritten_per_row_upserted", "ratio"),
     ("ingest.parse_ms", "ms"), ("ingest.rows_offered", "count"),
     ("ingest.rows_quarantined", "count"),
     ("ingest.rows_resent_collapsed", "count"),
     ("streaming.drain_ms", "ms"), ("streaming.batches_per_drain", "count"),
     ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
     ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
     ("streaming.latest_offset_ms", "ms"), ("streaming.get_batch_ms", "ms"),
     ("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes")]
    + [(f"job.{j}.{m}", u) for j in JOBS
       for m, u in (("wall_s", "s"), ("spark_jobs", "count"),
                    ("spark_tasks", "count"), ("shuffle_write_bytes", "bytes"))]
    + [(f"ops.{f}_s", "s") for f in ("dedup", "vector", "quality",
                                        "timeseries")]
    + [("cache.persisted_rdds", "count"), ("cache.persisted_bytes", "bytes"),
       ("trace.overhead_ratio", "ratio"), ("trace.self_coverage", "ratio"),
       ("trace.unattributed_ms", "ms"), ("trace.jobs_attributed", "ratio")]
    + [(f"self_ms.{l}", "ms") for l in
       ("harness", "influxql", "spark_plan", "spark_exec", "store", "ingest",
        "streaming", "ops", "cache")]
    # peak RSS follows G1's heap sizing, which GC timing drives: it spreads
    # too much between runs of the same code to gate, so it is reported here
    + [("peak_rss_mb", "MB")])


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(engine_src):
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(BENCH, "src"), engine_src):
        files += sorted(glob.glob(os.path.join(top, "**", "*.scala"),
                                  recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; returns the
    classpath."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine_src, "graft")):
        fail(f"engine sources not found under {engine_src}; run from the "
             "root of a checkout")
    out = os.path.join(BUILD, "build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    want = source_stamp(engine_src)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's scratch (file watcher, sockets, JNA) stays in the checkout too
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "export Compile/fullClasspath"]
    print("[perfbench] building engine + benchmark (sbt) ...", file=sys.stderr)
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ".jar" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build did not report a classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def generate(workload, seed, work):
    """The seeded inputs; returns (input dir, seconds taken, sizes)."""
    out = os.path.join(work, "inputs")
    t0 = time.time()
    sizes = gen.generate(workload, seed, out)
    took = time.time() - t0
    print(f"[perfbench] inputs {workload} seed={seed}: {json.dumps(sizes)}",
          file=sys.stderr)
    return out, took, sizes


def run_jvm(cp, args, work, budget):
    # the engine's own heap limit (root build.sbt): the heap grows only as
    # far as the engine needs, so peak RSS follows what it allocates
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java", f"-Xmx{heap}", "-XX:-UsePerfData"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload did not finish within {budget:.0f} s (log: {log})")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {rc}")


def oracle_results(inputs, work):
    """The DuckDB side of the offline_batch check: every job's oracle SQL
    (written by the JVM after the measured passes) run over the generated
    files. run.py computes it while the JVM writes the job outputs; the JVM
    waits for `oracle.done` before it exits."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=%d" % (os.cpu_count() or 1))
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duck_tmp')}'")
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs, t + '.parquet')}')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.time()
        out[name] = con.execute(sql).fetchdf()
        print(f"[perfbench] oracle {name}: {len(out[name])} rows, "
              f"{time.time() - t0:.2f} s", file=sys.stderr)
    con.close()
    return out


def compare_outputs(outputs, oracle):
    """Every job with an oracle twin must match DuckDB on the same files,
    compared as tools/selfcheck.py does (column-name order, sorted rows,
    1e-9 relative float tolerance, integer vs float typing)."""
    import duckdb
    import numpy as np
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        return df.sort_values(by=list(df.columns), na_position="first",
                              kind="mergesort").reset_index(drop=True)

    def compare(s, d):
        s, d = norm(s), norm(d)
        if list(s.columns) != list(d.columns):
            return f"columns {list(s.columns)} vs {list(d.columns)}"
        if s.shape != d.shape:
            return f"shape {s.shape} vs {d.shape}"
        for c in s.columns:
            sv, dv = s[c], d[c]
            si, di = (pd.api.types.is_integer_dtype(sv),
                      pd.api.types.is_integer_dtype(dv))
            isf = pd.api.types.is_float_dtype
            if si != di and (isf(sv) or isf(dv) or sv.dtype == object
                             or dv.dtype == object):
                return f"dtype {c}: {sv.dtype} vs {dv.dtype}"
            if isf(sv) or isf(dv):
                a, b = sv.astype(float).to_numpy(), dv.astype(float).to_numpy()
                ok = np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True)
                if not ok.all():
                    i = int(np.argmin(ok))
                    return f"value {c} row {i}: {a[i]!r} vs {b[i]!r}"
            else:
                a, b = sv.astype(str).to_numpy(), dv.astype(str).to_numpy()
                if not (a == b).all():
                    i = int(np.argmin(a == b))
                    return f"value {c} row {i}: {a[i]!r} vs {b[i]!r}"
        return None

    con = duckdb.connect()
    problems = []
    for name, d in sorted(oracle.items()):
        files = glob.glob(os.path.join(outputs, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no output")
            continue
        s = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        err = compare(s, d)
        if err:
            problems.append(f"{name}: {err}")
    con.close()
    return problems


class OracleThread(threading.Thread):
    """Waits for the JVM's `outputs.start`, computes the DuckDB side, then
    writes `oracle.done` (also on failure, so the JVM never waits long)."""

    def __init__(self, inputs, work):
        super().__init__(daemon=True)
        self.inputs, self.work = inputs, work
        self.results, self.error = {}, None
        self.stop = threading.Event()

    def run(self):
        try:
            while not os.path.exists(os.path.join(self.work, "outputs.start")):
                if self.stop.wait(0.05):
                    return
            self.results = oracle_results(self.inputs, self.work)
        except Exception as e:        # reported as a failed check
            self.error = repr(e)
        finally:
            open(os.path.join(self.work, "oracle.done"), "w").close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    t0 = time.time()                      # set-up starts once the build is done
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs, gen_s, sizes = generate(a.workload, a.seed, work)
    result_file = os.path.join(work, "result.json")
    oracle = None
    if a.workload == "offline_batch":
        oracle = OracleThread(inputs, work)
        oracle.start()
    t_launch = time.time()
    try:
        run_jvm(cp, ["--workload", a.workload, "--inputs", inputs,
                     "--work", work, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--result", result_file],
                work, DEADLINE_S - (time.time() - t0))
    finally:
        if oracle:
            oracle.stop.set()
            oracle.join()
    t_jvm = time.time()
    with open(result_file) as f:
        r = json.load(f)
    problems = list(r["problems"])
    if oracle:
        if oracle.error or not oracle.results:
            problems.append(f"offline_batch oracle: {oracle.error or 'no job has an oracle twin'}")
        else:
            problems += [f"offline_batch oracle: {b}" for b in compare_outputs(
                os.path.join(work, "outputs"), oracle.results)]
    # set-up: input generation, JVM + session start, and the workload
    # set-up (store pre-build + warm-up)
    setup = (gen_s + (r["info"]["session_ready_ms"] / 1000.0 - t_launch)
             + r["prebuild_s"])
    m = dict(r["metrics"])
    m["setup_s"] = {"value": setup, "unit": "s"}
    names = PER_LAYER if a.trace else E2E
    metrics = {}
    for name, unit in names:
        v = m.get(name)
        if v is None:
            if a.trace:          # a layer this workload never calls
                v = {"value": 0.0, "unit": unit}
            else:
                problems.append(f"metric {name} missing")
                continue
        if v["value"] is None:
            problems.append(f"metric {name} has no value")
            continue
        metrics[name] = {"value": v["value"], "unit": unit}
    for p in problems:
        print(f"[perfbench] CHECK FAILED: {p}", file=sys.stderr)
    ok = not problems
    info = {"sizes": sizes, "gen_s": gen_s, "prebuild_s": r["prebuild_s"],
            "jvm_s": t_jvm - t_launch, "checks_s": time.time() - t_jvm,
            "total_s": time.time() - T_START, **r["info"]}
    print(f"[perfbench] info: {json.dumps(info)}", file=sys.stderr)
    for d in glob.glob(os.path.join(work, "*")):
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"correct": ok, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if ok and r["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
