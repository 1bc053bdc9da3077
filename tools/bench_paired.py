#!/usr/bin/env python3
"""INTERLEAVED paired bench (r12, the r11 verdict's item 5): time Spark
key k and DuckDB key k back-to-back in ONE sweep, so the ledger ratio
stops absorbing host-window drift between two separate sweeps (r10b
0.70x vs r11 1.15x both needed a weather paragraph).

Drives graft.BenchServer (a warmed key-at-a-time Spark session, same
min-of-2 discipline as graft.Bench) over stdin/stdout; DuckDB runs
in-process here with its own warm pass, min-of-2 per key. Spark-only
(no-oracle) keys are still timed — they land with duckdb=null.

Usage: python3 tools/bench_paired.py [sfDir] [oracle_sql.json] [threads] [out.json]
Builder-side tool only (the round driver runs graft.Bench unchanged).
"""
import sys, os, re, glob, json, time, subprocess

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ORACLE = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out/oracle_sql.json"
THREADS = sys.argv[3] if len(sys.argv) > 3 else str(os.cpu_count())
OUT = sys.argv[4] if len(sys.argv) > 4 else "artifacts/bench_paired.json"

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def jvm_flags():
    """The JVM flags in jvm.options, the list build.sbt's javaOptions also
    reads: one flag per line, `${VAR:-default}` from the environment."""
    flags = []
    with open(os.path.join(REPO, "jvm.options")) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                line = re.sub(r"\$\{(\w+):-([^}]*)\}",
                              lambda m: os.environ.get(m.group(1), m.group(2)), line)
                flags += line.split()
    return flags

cmd = ["java", *jvm_flags(),
       "-cp", f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*",
       "graft.BenchServer"]
print("server:", " ".join(cmd), flush=True)

env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF, SPARK_GRAFT_CPUS=THREADS)
log = open("/tmp/bench_server.log", "w")
proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                        stderr=log, text=True, env=env, cwd=REPO)

def read_json():
    while True:
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError("BenchServer died — see /tmp/bench_server.log")
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                pass

print("waiting for BenchServer warmup (two full passes)...", flush=True)
ready = read_json()
keys = ready["keys"]
print(f"server ready: {len(keys)} keys, warm_fails={ready['warm_fails']}", flush=True)

con = __import__("duckdb").connect()
con.execute(f"SET threads={THREADS}")
for p in glob.glob(f"{SF}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    # Driver fixtures are single files; Spark-written tiers (GenSf1's
    # sf1) are directories of part files — glob inside those.
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
oracle = json.load(open(ORACLE))

# DuckDB warm pass — symmetric with the server's warm passes, so both
# engines enter the interleaved sweep at steady state.
for k in sorted(oracle):
    try:
        con.execute(oracle[k]).fetchall()
    except Exception:
        pass

def duck_time(sql):
    # Returns (best wall of 2, process CPU across both reps) — the CPU
    # column (r14, r13 verdict item 9) makes host-weather diagnosable
    # from the artifact: wall spike + flat CPU = external contention,
    # wall and CPU moving together = the work itself changed.
    # time.process_time() sums ALL threads of this process, so a
    # 32-thread DuckDB key can show cpu >> wall; the Spark cpu_sec
    # column is the JVM-wide analog from OperatingSystemMXBean.
    best = None
    c0 = time.process_time()
    for _ in range(2):  # min-of-2, same spike discipline as the server
        t0 = time.time()
        con.execute(sql).fetchall()
        t = time.time() - t0
        best = t if best is None else min(best, t)
    return best, time.process_time() - c0

pairs, errors = {}, {}
for k in keys:
    proc.stdin.write(k + "\n")
    proc.stdin.flush()
    r = read_json()
    srow = {"spark": r.get("sec"), "spark_cpu": r.get("cpu_sec")}
    if "err" in r:
        errors[k] = r["err"]
        srow["spark_err"] = r["err"]
    if k in oracle:
        try:
            srow["duckdb"], srow["duckdb_cpu"] = duck_time(oracle[k])
        except Exception as e:
            errors[k] = f"duckdb: {str(e)[:80]}"
            srow["duckdb"] = None
    else:
        srow["duckdb"] = None
    pairs[k] = srow
    d = f"{srow['duckdb']:7.2f}s" if srow.get("duckdb") is not None else "      —"
    print(f"{srow.get('spark', -1):7.2f}s {d}  {k}", flush=True)

proc.stdin.write("EXIT\n")
proc.stdin.flush()
proc.wait(timeout=120)

common = [k for k, v in pairs.items()
          if v.get("duckdb") is not None and "spark_err" not in v]
spark_common = sum(pairs[k]["spark"] for k in common)
duck_common = sum(pairs[k]["duckdb"] for k in common)
spark_all = sum(v["spark"] for v in pairs.values()
                if v.get("spark") is not None and "spark_err" not in v)
spark_cpu_common = sum(pairs[k].get("spark_cpu") or 0 for k in common)
duck_cpu_common = sum(pairs[k].get("duckdb_cpu") or 0 for k in common)
summary = {
    "metric": "paired_interleaved", "sf": SF, "threads": THREADS,
    "cpu_note": "per-key cpu columns (r14): process CPU across both min-of-2 reps "
                "(wall is the min of 2) — spark_cpu from OperatingSystemMXBean "
                "(whole JVM), duckdb_cpu from time.process_time() (all threads)",
    "spark_cpu_common_sec": spark_cpu_common, "duckdb_cpu_common_sec": duck_cpu_common,
    "n_keys": len(keys), "n_common": len(common),
    "spark_total_all_sec": spark_all,
    "spark_common_sec": spark_common, "duckdb_common_sec": duck_common,
    "ratio_common": (spark_common / duck_common) if duck_common else None,
    "warm_fails": ready["warm_fails"], "errors": errors, "pairs": pairs,
}
os.makedirs(os.path.dirname(os.path.join(REPO, OUT)), exist_ok=True)
with open(os.path.join(REPO, OUT), "w") as f:
    json.dump(summary, f, indent=1)
print(json.dumps({k: v for k, v in summary.items() if k != "pairs"}))
