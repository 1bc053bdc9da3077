#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: three workloads over its keyed ops.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --capture    # re-derive perfbench/keys.tsv

Run from the root of a checkout. The first run builds the engine and this
harness with sbt (offline) and caches the classpath under .perfbench/; each
run then starts one JVM with its own scratch root under .perfbench/, which
is deleted when the run ends. The last stdout line is the JSON summary;
every metric line before it names its workload, metric and unit.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import selectors
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
KEYS = os.path.join(HERE, "keys.tsv")
DATA = os.path.join(HERE, "data")
RUN_LIMIT_S = 170
# The engine's snapshot caches that ignore java.io.tmpdir: each is keyed by
# the fixture path, which is unique per run, and removed when the run ends.
FIXED_CACHES = ["/tmp/graft_csv", "/tmp/graft_csv_bad", "/tmp/graft_text",
                "/tmp/graft_jsonl", "/tmp/graft_jsonl_bad"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*.scala"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def source_hash():
    h = hashlib.sha1()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def revision():
    """The git commit of the checkout, or a hash of its sources."""
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except OSError:
            pass
    return "tree-" + source_hash()[:12]


def heap():
    """The Tier-1 formula: half of MemTotal, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp = os.path.join(STATE, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            have, cp = f.read().split("\n", 1)
        if have == want:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt ...")
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        sys.exit("[perfbench] build failed")
    cp = out.stdout.strip().splitlines()[-1].strip()
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(want + "\n" + cp)
    return cp


def java_cmd(cp, tmp, *args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xmx{heap()}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, *args])


def run_jvm(cmd, limit, relay=True):
    """Run the JVM, relaying stdout; kill it at `limit` s. Returns (code, lines)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    lines, deadline = [], time.time() + limit
    try:
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            if time.time() > deadline:
                log(f"run exceeded {limit} s; killed")
                kill()
                break
            if not sel.select(timeout=1.0):
                if proc.poll() is not None:
                    break
                continue
            line = proc.stdout.readline()
            if not line:
                break
            lines.append(line.rstrip("\n"))
            if relay:
                print(lines[-1], flush=True)
    finally:
        kill() if proc.poll() is None else None
        proc.wait()
        signal.signal(signal.SIGTERM, old)
    return proc.returncode, lines


def scratch(name):
    path = os.path.join(STATE, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def clean(path):
    prefix = re.sub(r"[^a-zA-Z0-9.]", "_", os.path.join(path, "data", "sf0.01")) + "_"
    for parent in FIXED_CACHES:
        for d in glob.glob(os.path.join(parent, glob.escape(prefix) + "*")):
            shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)


def bench(a, cp):
    root = scratch(f"run-{os.getpid()}")
    try:
        code, lines = run_jvm(java_cmd(cp, os.path.join(root, "tmp"), "perfbench.Main", "run",
                                       "--workload", a.workload, "--seed", str(a.seed),
                                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                                       "--data", DATA, "--root", root, "--keys", KEYS,
                                       "--trace-out", os.path.join(STATE, "traces"),
                                       "--rev", revision()), RUN_LIMIT_S)
    finally:
        clean(root)
    try:
        summary = json.loads(lines[-1]) if lines else None
    except ValueError:
        summary = None
    if not isinstance(summary, dict) or "correct" not in summary:
        sys.exit(f"[perfbench] no summary (jvm exit {code})")
    return 0


def selftest(cp):
    root = scratch(f"selftest-{os.getpid()}")
    try:
        code, _ = run_jvm(java_cmd(cp, os.path.join(root, "tmp"), "perfbench.Main", "selftest",
                                   "--data", DATA, "--root", root, "--keys", KEYS), 600)
    finally:
        clean(root)
    return code


def capture(cp):
    """Re-derive keys.tsv: the oracle must pass on the benchmark's fixtures,
    then two captures in separate JVMs give digests and reference costs."""
    root = scratch(f"capture-{os.getpid()}")
    env_cpus = str(os.cpu_count())
    try:
        out = os.path.join(root, "verify")
        code = subprocess.run(java_cmd(cp, os.path.join(root, "tmp"), "graft.Verify",
                                       os.path.join(DATA, "sf0.01"), out),
                              cwd=ROOT, env=dict(os.environ, SPARK_GRAFT_CPUS=env_cpus)).returncode
        check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                                os.path.join(DATA, "sf0.01"), out], capture_output=True, text=True)
        log(check.stdout.strip().splitlines()[-1] if check.stdout.strip() else "check.py: no output")
        if code != 0 or check.returncode != 0:
            sys.stderr.write(check.stdout[-3000:])
            sys.exit("[perfbench] oracle check failed; not capturing goldens")
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracled = set(json.load(f))
        caps = []
        for i, calls in enumerate((3, 1)):
            path = os.path.join(root, f"capture{i}.tsv")
            code, _ = run_jvm(java_cmd(cp, os.path.join(root, "tmp"), "perfbench.Main", "capture",
                                       "--data", DATA, "--root", os.path.join(root, f"c{i}"),
                                       "--out", path, "--calls", str(calls)), 3600, relay=False)
            if code != 0:
                sys.exit(f"[perfbench] capture {i} failed ({code})")
            with open(path) as f:
                caps.append({k: (w, g, d.split(","), float(ms))
                             for k, w, g, d, ms in (l.rstrip("\n").split("\t") for l in f)})
        rows, unstable = [], []
        for k, (w, g, ds, ms) in sorted(caps[0].items()):
            ds = ds + caps[1][k][2]
            if any(d.startswith("ERR") for d in ds):
                sys.exit(f"[perfbench] {k} failed during capture: {ds}")
            if len(set(ds)) == 1:
                mode = "golden" if k in oracled else "warm"
            elif len({d.split(':')[0] for d in ds}) == 1:
                mode = "rows"
                unstable.append(k)
            else:
                sys.exit(f"[perfbench] {k}: neither digest nor row count is stable: {ds}")
            rows.append((k, w, g, mode, ds[0], ms))
        return rows, unstable
    finally:
        clean(root)


def write_keys(captured):
    rows, unstable = captured
    with open(KEYS, "w") as f:
        f.write("key\tworkload\tgroup\tcheck\tgolden\tref_ms\n")
        for k, w, g, mode, d, ms in sorted(rows, key=lambda r: (r[1], r[0])):
            f.write(f"{k}\t{w}\t{g}\t{mode}\t{d}\t{ms:.1f}\n")
    log(f"wrote {KEYS}; row-count-only keys: {', '.join(unstable) or 'none'}")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=["interactive", "similarity", "lifecycle"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--capture", action="store_true")
    a = p.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        sys.exit("[perfbench] no engine sources at the checkout root (build.sbt, src/main/scala/graft)")
    if not (a.selftest or a.capture or a.workload):
        p.error("--workload, --selftest or --capture is required")
    cp = build()
    if a.capture:
        write_keys(capture(cp))
        return 0
    if a.selftest:
        return selftest(cp)
    return bench(a, cp)


if __name__ == "__main__":
    sys.exit(main())
