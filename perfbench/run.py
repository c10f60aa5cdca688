"""Benchmark of the engine's product path and its operator catalog.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each was chosen):
  pipeline  GraftSession.runPipeline on a seeded anon/real pair of lineitem
            slices, then io.Csv.write of the protected frame; one op a pass
  catalog   12 catalog queries, one to three per operator module, each
            once per pass in a seeded order

The run builds the engine from source (perfbench/build.py), reads the
project's testdata (perfbench/testdata, a byte-for-byte copy of the sf0.01
and sf0.001 tables TESTDATA.md describes), slices the seeded pipeline pair
from its lineitem under .bench_build/, starts one JVM with local[nproc],
warms up and settles (setup_s is the time from the JVM's start to the
first timed op), and runs the workload as a single-client closed loop for
--seconds (at least one pipeline op or catalog pass). Outputs are checked outside the
timed region: catalog results with an oracle entry are compared against
DuckDB here, the JVM checks the rest. The last line of
stdout is the result object; the line before it holds the run's records
(seed, load average, CPU steal, sort calibration, warm-up, sample counts).

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics: with a SparkListener and a QueryExecutionListener registered, it
alternates untraced passes with traced ones (a span around every call into
a layer), and writes the spans to spans.jsonl in the run's output
directory.
perfbench/layers.json maps each per-layer metric to the end-to-end metric
it should move. perfbench/selftest.py checks the benchmark itself.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORK = build.BUILD

# The project's testdata (TESTDATA.md at the repository root), copied
# unchanged: sf0.01 (lineitem 60,000 rows) for the timed runs, sf0.001 for
# the self-test.
SIZES = {"full": "sf0.01", "smoke": "sf0.001"}
# Warm-up before the timed window, in two steps. First `WARMUP` units run
# at once on one thread each (see the workloads' warmup): 2 pipeline ops, or
# 2 catalog passes of queries spread over the cores; this pays the one-time
# costs (class loading, codegen, the first JIT tiers) in ~20-35 s, where one
# cold catalog pass alone takes ~27 s. Then `SETTLE` untimed passes run one
# at a time, the way timed ones do, while the JIT keeps compiling (2+ cores
# of compiler time during the first passes). Sized by measurement on a
# 4-core VM at sf0.01: after the concurrent step the catalog passes fell for
# ~6 passes (e.g. 6.4, 5.2, 4.5, 4.3, 4.2, 4.1 s, then 3.5-3.9 s for the
# next nine), the pipeline ops for ~2. With 2 settling catalog passes the
# timed ones caught that fall at different points and pass_s spread 0.31
# (quartile distance / median) over 8 seeds; after 4 the passes of a run
# are within a few percent of each other. More settling, or a longer timed
# window, does not fit the time all runs of the benchmark may take together
# (4 + 22 x 2 runs in 3,420 s): a run takes 55-75 s on that VM.
WARMUP = {"pipeline": 2, "catalog": 2}
SETTLE = {"pipeline": 1, "catalog": 4}
JVM_TIMEOUT_S = 165
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
RESIDUES = 20


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tables_dir(size):
    return os.path.join(HERE, "testdata", SIZES[size])


def pipeline_pair(tables, seed):
    """The seeded anon/real pair of lineitem slices for the pipeline
    workload, sliced by `l_orderkey % 20` the way the catalog's v6 linkage
    queries slice by a residue: anon is residue r, real is residues r and
    r + 1, so the two overlap on every anon row. Each residue of the sf0.01
    testdata holds 2,926-3,083 rows. Returns the directory and the row
    counts of both slices."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(WORK, "pairs", f"{os.path.basename(tables)}-seed{seed}")
    done = os.path.join(d, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        r = np.random.default_rng(seed).integers(0, RESIDUES)
        li = pq.read_table(os.path.join(tables, "lineitem.parquet"))
        res = np.asarray(li.column("l_orderkey")) % RESIDUES
        pq.write_table(li.filter(pa.array(res == r)), os.path.join(d, "anon.parquet"))
        pq.write_table(li.filter(pa.array((res == r) | (res == (r + 1) % RESIDUES))),
                       os.path.join(d, "real.parquet"))
        open(done, "w").close()
    rows = {f"{k}_rows": pq.read_metadata(os.path.join(d, f"{k}.parquet")).num_rows
            for k in ("anon", "real")}
    return d, rows


def cpu_steal_jiffies():
    """Host time stolen from this machine's CPUs so far (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class Stopped(Exception):
    """SIGTERM or SIGINT arrived. Raised from the handler rather than
    handled there: the handler interrupts the main thread, which may hold
    Popen.wait's lock, so the child is killed and reaped where the exception
    is caught (subprocess.run does the same for the build's compiler)."""


def _stopped(signum, _frame):
    raise Stopped(signum)


def run_jvm(args, tables, pair, rows, out):
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # The heap cap the project's build.sbt runs with (SPARK_DRIVER_MEM's
    # default).
    cmd = ["java", "-Xmx8g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *build.JAVA_OPENS, "-cp", build.classpath(), "perfbench.PerfBench",
           f"workload={args.workload}", f"seed={args.seed}", f"seconds={args.seconds}",
           f"trace={args.trace}", f"tables={tables}", f"pair={pair}", f"out={out}",
           f"cpus={cpus()}", f"warmup={WARMUP[args.workload]}",
           f"settle={SETTLE[args.workload]}",
           f"corrupt={args.corrupt}", f"local={local}",
           f"anon_rows={rows.get('anon_rows', -1)}"]
    log = open(os.path.join(out, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s; log in {out}/jvm.log")
    except Stopped:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


# ---- DuckDB oracle (the project's correctness gate, re-done here) ----------

INTS = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT")


def _family(t, oracle_side):
    t = str(t)
    if t.startswith("DECIMAL") or t == "HUGEINT":
        return "float" if oracle_side else "obj"
    if t in INTS:
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    return "other"


def _cell_equal(a, b):
    import pandas as pd
    if a is None and b is None:
        return True
    if a is pd.NaT and b is pd.NaT:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def oracle_mismatches(tables, out, names):
    """Names whose Spark result differs from DuckDB running the oracle SQL."""
    import duckdb
    if not names:
        return []
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    bad = []
    for n in names:
        try:
            res = f"'{out}/results/{n}/*.parquet'"
            srel = con.sql(f"SELECT * FROM {res}")
            stypes = dict(zip(srel.columns, srel.types))
            sdf = srel.df()
            rel = con.sql(sql[n])
            otypes = dict(zip(rel.columns, rel.types))
            ddf = rel.df()
            ok = sorted(sdf.columns) == sorted(ddf.columns) and len(sdf) == len(ddf)
            ok = ok and all(_family(stypes[c], False) == _family(t, True)
                            for c, t in otypes.items())
            if ok:
                cols = sorted(sdf.columns)
                s = sdf[cols].sort_values(by=cols, ignore_index=True)
                d = ddf[cols].sort_values(by=cols, ignore_index=True)
                ok = all(_cell_equal(a, b) for c in cols
                         for a, b in zip(s[c].tolist(), d[c].tolist()))
        except Exception as e:  # an oracle that cannot run is a failed check
            sys.stderr.write(f"perfbench: oracle {n}: {e}\n")
            ok = False
        if not ok:
            sys.stderr.write(f"perfbench: {n} differs from the DuckDB oracle\n")
            bad.append(n)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="self-test only: corrupt one output, which must be counted as failed")
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="self-test only: input size")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _stopped)
    signal.signal(signal.SIGINT, _stopped)
    try:
        run(args)
    except Stopped as e:
        sys.exit(f"perfbench: stopped by signal {e}")


def run(args):
    build.build()
    tables = tables_dir(args.size)
    pair, rows = pipeline_pair(tables, args.seed) if args.workload == "pipeline" else ("", {})
    out = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    loadavg_start = open("/proc/loadavg").read().split()[:3]
    steal0 = cpu_steal_jiffies()
    t0 = time.time()
    r = run_jvm(args, tables, pair, rows, out)
    wall = time.time() - t0
    steal = (cpu_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
    bad = oracle_mismatches(tables, out, r["oracle"])
    failed = r["failed"] + sum(r["executions"].get(n, 0) for n in bad
                               if n not in r["check_failures"])
    # steal share: CPU time the host gave to other machines, per core-second
    # of this run; a contended window shows here before it shows as a
    # slower metric
    records = dict(r["records"], **rows, workload=args.workload,
                   tables=os.path.relpath(tables, ROOT), jvm_wall_s=wall,
                   cpu_steal_share=steal / (wall * cpus()),
                   host_loadavg_start=loadavg_start,
                   host_loadavg_end=open("/proc/loadavg").read().split()[:3],
                   check_failures=sorted(set(r["check_failures"]) | set(bad)),
                   out_dir=os.path.relpath(out, ROOT))
    print(json.dumps({"records": records}))
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                      "failed": failed, "metrics": r["metrics"]}))


if __name__ == "__main__":
    main()
