#!/usr/bin/env python3
"""perfbench: the one command that builds, runs and checks the benchmark.

  python3 perfbench/run.py --workload gds_load --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark driver from source (perfbench/build.sbt compiles ../src/main/scala
together with perfbench/src) into perfbench/.work/; later runs reuse the jar
while the sources are unchanged. Inputs are generated from --seed by
perfbench/datagen.py and cached per seed; DuckDB oracle outputs likewise.

One run of a workload:
  1. two fresh JVMs each start a Spark session and run one cold iteration
     that writes its outputs (`setup_s` is their median);
  2. the second JVM then warms up for a few seconds and runs warm iterations
     for --seconds (closed loop, one client; with --trace 1 untraced and
     traced iterations alternate);
  3. every output is checked: query outputs against the DuckDB oracle, the
     GDS load's row counts, byte totals, put ordering and key checksums
     against the generated inputs.

Human-readable metric lines go to stdout first; the LAST stdout line is one
JSON record {"correct", "attempted", "failed", "metrics"}. The same record,
with per-iteration detail, is written to perfbench/.work/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import datagen  # noqa: E402

# The workloads the benchmark definition lists, plus `graph_large`, which is
# run by hand: one pass past the driver-local gate takes minutes.
WORKLOADS = ("gds_load", "graph_curate", "graph_large")
# the query workloads' passes (must match BenchMain.Queries)
QUERIES = {
    "graph_curate": ["graph_kcore", "text_bpe_encode", "sample_weighted",
                     "dedup_simhash", "sim_cosine_topk"],
    "graph_large": ["graph_kcore", "graph_pagerank", "graph_wsp"],
}
# JVMs per run, each a cold set-up sample (setup_s is their median); the
# last one also measures. Two keep 4 + 22 x 2 runs inside the time the
# benchmark is given; a third would not fit.
SETUPS = 2
HEAP = "3g"
# wall-clock limit of one run, build excluded; graph_large is run by hand
RUN_BUDGET_S = {"default": 170, "graph_large": 1500}

E2E = [  # name, unit
    ("setup_s", "s"), ("run_s", "s"), ("rows_per_s", "rows/s"),
    ("wire_bytes_per_row", "B/row"), ("slowest_op_s", "s"),
]
PER_LAYER = [
    ("pipeline.nodes_phase_s", "s"), ("pipeline.edges_phase_s", "s"),
    ("pipeline.driver_self_s", "s"), ("sink.control_s", "s"),
    ("sink.transport.puts", "count"), ("sink.transport.bytes", "B"),
    ("sink.transport.busy_s", "s"), ("sink.batch_fill", "ratio"),
    ("sources.scan_s", "s"), ("ops.GraphOps.project_s", "s"),
    ("ops.GraphOps.project_self_s", "s"), ("GraftArrow.encode_s", "s"),
    ("GraftArrow.encode_self_s", "s"), ("sink.write_s", "s"), ("sink.write_self_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.driver_gap_s", "s"), ("spark.driver_gap_share", "ratio"),
    ("spark.input_bytes", "B"), ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
    ("spark.output_bytes", "B"), ("spark.result_bytes", "B"),
    ("ops.Pin.jobs", "count"), ("ops.Pin.result_bytes", "B"),
    ("ops.Scratch.jobs", "count"), ("ops.Scratch.output_bytes", "B"),
    ("ops.Scratch.tables_left", "count"), ("ops.Par.jobs", "count"),
    ("operators.Graph.jobs", "count"), ("operators.Corpus.jobs", "count"),
    ("operators.Dedup.jobs", "count"), ("operators.Similarity.jobs", "count"),
    ("operators.TextAnalysis.jobs", "count"),
] + [(f"query.{q}_s", "s") for q in QUERIES["graph_curate"]] + [
    ("trace.run_s_untraced", "s"), ("trace.run_s_traced", "s"),
    ("trace.overhead_share", "ratio"), ("driver_heap_peak_mb", "MB"),
]
ADD_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
             "java.nio java.util java.util.concurrent java.util.concurrent.atomic "
             "sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar").split()


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, logfile, timeout, env=None):
    """Run cmd in its own process group; on timeout kill the whole group and
    wait for it, so nothing the benchmark started outlives it."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout:.0f}s (log: {logfile})")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0:
        with open(logfile) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{cmd[0]} exited {rc} (log: {logfile})\n{tail}")


def spark_home():
    """The Spark installation whose jars the program compiles and runs with."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_files():
    files = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile the program and the driver into one jar unless a jar built
    from identical sources exists."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise BenchError("no program sources at src/main/scala: run from a checkout root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    jar, stampf = os.path.join(bdir, "perfbench.jar"), os.path.join(bdir, "stamp")
    if os.path.isfile(jar) and os.path.isfile(stampf) and open(stampf).read() == stamp:
        return jar, stamp
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt package)")
    t0 = time.time()
    run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
              "package"], BENCH, os.path.join(bdir, "sbt.log"), 840, env)
    built = glob.glob(os.path.join(BENCH, "target", "scala-2.13", "perfbench_2.13-*.jar"))
    if len(built) != 1:
        raise BenchError(f"expected one built jar, found {built}")
    shutil.copyfile(built[0], jar + ".tmp")
    os.replace(jar + ".tmp", jar)
    with open(stampf, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return jar, stamp


class Jvm:
    def __init__(self, jar, workload, data, cores, deadline):
        self.jar, self.workload, self.data = jar, workload, data
        self.cores, self.deadline = cores, deadline
        self.cp = f"{jar}:{spark_home()}/jars/*"

    def run(self, mode, out, seconds=0, trace=0):
        shutil.rmtree(out, ignore_errors=True)
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp)
        cmd = ["java"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
        cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", "-cp", self.cp, "perfbench.BenchMain",
                "--workload", self.workload, "--mode", mode, "--out", out,
                "--data", self.data, "--cores", str(self.cores),
                "--local-dir", os.path.join(tmp, "spark-local"),
                "--seconds", str(seconds), "--trace", str(trace)]
        run_proc(cmd, ROOT, out + ".log", self.deadline - time.time())
        if mode != "oracle":
            with open(os.path.join(out, "result.json")) as f:
                return json.load(f)


# ---------------------------------------------------------------- oracle

def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """None when equal (floats to 1e-9 relative), else what differs."""
    import numpy as np
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if a.equals(b):
            continue
        try:
            if np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-9,
                           equal_nan=True):
                continue
        except (TypeError, ValueError):
            pass
        return f"values differ in column {c}"
    return None


def duck(data, cores):
    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={cores}")
    for d in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(d)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    return con


def oracle(jvm, workload, seed, data, stamp, cores):
    """Canonical DuckDB outputs for every query of the workload, computed
    once per (seed, oracle SQL) and cached as parquet."""
    sql_path = os.path.join(WORK, "oracle-sql", f"{stamp}-{workload}.json")
    if not os.path.isfile(sql_path):
        out = os.path.join(WORK, "run", "oracle-sql")
        jvm.run("oracle", out)
        os.makedirs(os.path.dirname(sql_path), exist_ok=True)
        shutil.copyfile(os.path.join(out, "oracle.json"), sql_path)
    with open(sql_path) as f:
        sqls = json.load(f)
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    wdir = os.path.join(WORK, "oracle", workload)
    odir = os.path.join(wdir, f"seed-{seed}-{key}")
    if not os.path.isfile(os.path.join(odir, "_DONE")):
        shutil.rmtree(wdir, ignore_errors=True)
        os.makedirs(odir)
        con = duck(data, cores)
        for q, sql in sqls.items():
            canon(con.sql(sql).df()).to_parquet(os.path.join(odir, f"{q}.parquet"))
        open(os.path.join(odir, "_DONE"), "w").close()
    return odir


def check_outputs(outdir, odir, queries, cores):
    """Compare one JVM's written query outputs with the oracle; returns
    {query: error or None}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={cores}")
    errs = {}
    for q in queries:
        files = glob.glob(os.path.join(outdir, "outputs", q, "*.parquet"))
        if not files:
            errs[q] = "no output written"
            continue
        got = canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
        errs[q] = compare(got, pd.read_parquet(os.path.join(odir, f"{q}.parquet")))
    return errs


# --------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def gds_checks(it, meta):
    """Per-load checks that need no decoding."""
    errs = []
    if it["node_rows"] != [n["rows"] for n in meta["nodes"]]:
        errs.append(f"node rows {it['node_rows']}")
    if it["edge_rows"] != [e["rows"] for e in meta["edges"]]:
        errs.append(f"edge rows {it['edge_rows']}")
    if it["bytes"] != it["transport_bytes"]:
        errs.append(f"LoadResult bytes {it['bytes']} != received {it['transport_bytes']}")
    if not it["order_ok"]:
        errs.append("put/action order violates the node-before-edge barrier")
    return errs


def gds_verify(v, meta):
    m = 1 << 64
    errs = []
    for kind in ("nodes", "edges"):
        want_rows = sum(x["rows"] for x in meta[kind])
        want_sum = str(sum(int(x["checksum"]) for x in meta[kind]) % m)
        got = v[kind]
        if got["rows"] != want_rows:
            errs.append(f"decoded {kind} rows {got['rows']} != {want_rows}")
        if got["checksum"] != want_sum:
            errs.append(f"{kind} key checksum {got['checksum']} != {want_sum}")
    if not v["order_ok"]:
        errs.append("verification load order violated")
    return errs


def measure(args):
    jar, stamp = build()
    deadline = time.time() + RUN_BUDGET_S.get(args.workload, RUN_BUDGET_S["default"])
    cores = len(os.sched_getaffinity(0))
    data, meta = datagen.ensure(args.workload, args.seed, os.path.join(WORK, "data"))
    jvm = Jvm(jar, args.workload, data, cores, deadline)
    queries = QUERIES.get(args.workload)
    odir = oracle(jvm, args.workload, args.seed, data, stamp, cores) if queries else None

    attempted = failed = 0
    problems, results, setups, good = [], [], [], []

    def tally(what, errs):
        nonlocal attempted, failed
        attempted += 1
        failed += bool(errs)
        problems.extend(f"{what}: {e}" for e in errs)
        return not errs

    # Every JVM sets up (cold iteration, outputs written); the last one then
    # warms up, measures for --seconds and does the verification work.
    for i in range(SETUPS):
        last = i == SETUPS - 1
        out = os.path.join(WORK, "run", f"jvm{i}")
        res = jvm.run("run", out, args.seconds if last else 0, args.trace)
        results.append(res)
        cold = res["setup_iteration"]
        if queries:
            errs = check_outputs(out, odir, queries, cores)
            ok = all([tally(f"jvm{i} cold {o['name']}",
                            [e for e in (o.get("error"), errs.get(o["name"])) if e])
                      for o in cold["ops"]])
        else:
            ok = tally(f"jvm{i} cold load", gds_checks(cold, meta))
            if last:
                tally("verification load", gds_verify(res["verify"], meta))
        if ok:
            setups.append(res["setup_s"])
        for it in res.get("iterations", []):
            if queries:
                oks = [tally(f"jvm{i} {o['name']}", [o["error"]] if not o["ok"] else [])
                       for o in it["ops"]]
            else:
                oks = [tally(f"jvm{i} load",
                             gds_checks(it, meta) + [o.get("error", "failed")
                                                     for o in it["ops"] if not o["ok"]])]
            if all(oks):
                good.append(it)
    plain = [it for it in good if not it["traced"]]
    traced = [it for it in good if it["traced"]]
    if not plain or not setups:
        raise BenchError("no successful iteration to report:\n" + "\n".join(problems))

    run_s = med([it["wall_s"] for it in plain])
    names = [o["name"] for o in plain[0]["ops"]]
    per_op = {n: med([o["s"] for it in plain for o in it["ops"] if o["name"] == n]) for n in names}
    last = results[-1]
    if queries:
        v = last["verify"]
        rows = sum(v[q]["rows"] for q in queries if v[q].get("ok"))
        wire = sum(v[q]["wire_bytes"] for q in queries if v[q].get("ok"))
    else:
        rows, wire = plain[0]["rows"], plain[0]["transport_bytes"]
    e2e = {
        "setup_s": med(setups),
        "run_s": run_s,
        "rows_per_s": rows / run_s,
        "wire_bytes_per_row": wire / rows,
        "slowest_op_s": max(per_op.values()),
    }
    heap = last["heap_peak_mb"]
    detail = {"setup_samples_s": setups, "per_op_median_s": per_op,
              "iterations_s": [round(it["wall_s"], 4) for it in last["iterations"]],
              "driver_heap_peak_mb": heap, "problems": problems}
    if args.trace:
        layers = per_layer(traced, plain, last, queries)
        layers["driver_heap_peak_mb"] = heap
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
        metrics.update({n: {"value": v, "unit": "s"} for n, v in layers.items()
                        if n.startswith("query.") and n not in metrics})
        detail["jobs_by_module"] = [it["layers"]["jobs_by_module"] for it in traced]
        detail["jobs_by_query"] = [it["layers"]["jobs_by_query"] for it in traced]
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
    record = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    save(args, record, detail, results)
    for n, m in metrics.items():
        print(f"{n:34s} {m['value']:>18.6f} {m['unit']}")
    for p in problems:
        print(f"FAILED {p}")
    print(json.dumps(record))


def per_layer(traced, plain, last, queries):
    """Median over traced iterations of each per-layer metric."""
    if not traced:
        raise BenchError("--trace 1 produced no traced iteration")
    keys = {k for it in traced for k, v in it["layers"].items() if isinstance(v, (int, float))}
    out = {k: med([it["layers"].get(k, 0) for it in traced]) for k in keys}
    if not queries:
        v = last["verify"]
        puts = v["nodes"]["puts"] + v["edges"]["puts"]
        batch = max(v["nodes"]["max_rows_per_put"], v["edges"]["max_rows_per_put"])
        ph = {n: med([o["s"] for it in traced for o in it["ops"] if o["name"] == n])
              for n in ("nodes_phase", "edges_phase")}
        pr = {n: med([it["probes"][n] for it in traced])
              for n in ("sources.scan_s", "ops.GraphOps.project_s", "GraftArrow.encode_s")}
        out.update(pr)
        write = med([it["layers"].get("span_self.sink.writeNodes", 0) +
                     it["layers"].get("span_self.sink.writeEdges", 0) for it in traced])
        out.update({
            "pipeline.nodes_phase_s": ph["nodes_phase"],
            "pipeline.edges_phase_s": ph["edges_phase"],
            "sink.control_s": med([it["control_s"] for it in traced]),
            "sink.transport.puts": med([it["puts"] for it in traced]),
            "sink.transport.bytes": med([it["transport_bytes"] for it in traced]),
            "sink.transport.busy_s": med([it["busy_s"] for it in traced]),
            "sink.batch_fill": v["rows"] / (puts * batch),
            "ops.GraphOps.project_self_s": pr["ops.GraphOps.project_s"] - pr["sources.scan_s"],
            "GraftArrow.encode_self_s": pr["GraftArrow.encode_s"] - pr["ops.GraphOps.project_s"],
            "sink.write_s": write,
            "sink.write_self_s": write - pr["GraftArrow.encode_s"],
            "pipeline.driver_self_s": med([it["layers"]["span_self.pipeline.GraphProjection.run"]
                                           for it in traced]),
        })
    u, t = med([it["wall_s"] for it in plain]), med([it["wall_s"] for it in traced])
    out.update({"trace.run_s_untraced": u, "trace.run_s_traced": t,
                "trace.overhead_share": t / u - 1.0})
    return out


def save(args, record, detail, results):
    rdir = os.path.join(WORK, "results")
    os.makedirs(rdir, exist_ok=True)
    base = os.path.join(rdir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump({"args": vars(args), "record": record, "detail": detail,
                   "jvms": results}, f, indent=1, sort_keys=True)
    spans = os.path.join(WORK, "run", f"jvm{SETUPS - 1}", "spans.json")
    if args.trace and os.path.isfile(spans):
        shutil.copyfile(spans, base + "-spans.json")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds through run_proc, which kills its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    try:
        measure(args)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
    finally:
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)


if __name__ == "__main__":
    main()
