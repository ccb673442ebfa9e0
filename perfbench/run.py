#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from
source with sbt when the sources changed since the last build (into
`$CARGO_TARGET_DIR`, default `.bench_build`), generates the workload's
inputs from the seed, computes the catalog workloads' expected answers
with DuckDB, runs the workload in a fresh JVM, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end set, with `--trace 1` the per-layer set; a
human-readable summary goes to stderr. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import metrics  # noqa: E402

# Per workload: input sizes. The corpora follow the shape of the repo's
# sf-scaled `documents` table (5000 docs at sf0.1). BENCHMARK.json lists
# the workloads the benchmark is run on; curation and ingest_trickle are
# kept runnable by hand (see README.md).
WORKLOADS = {
    "ingest_bulk": {"history_rows": 150000},
    "near_dup": {"query": "q144_incremental_clusters", "docs": 1000},
    "curation": {"query": "q181_curation_pipeline", "docs": 5000},
    "ingest_trickle": {"history_rows": 0},
}
# The workload JVM's time limit beyond the timed loop: start, set-ups,
# checks.
DEADLINE_MARGIN_S = 160

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + str(Path.home() / ".sbt" / "repositories")
            + " -Dsbt.offline=true -Xmx2g")

# What spark-submit would pass on JDK 17 (matches the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(bdir):
    """Compile program + harness with sbt when sources changed; returns the
    runtime classpath."""
    stamp, cp_file = bdir / "stamp", bdir / "classpath.txt"
    digest = source_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.startswith("/")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    bdir.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def driver_mem():
    """The tier-1 formula: half of RAM in GiB, clamped to [2, 8]."""
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return "%dg" % min(8, max(2, g))
    except OSError:
        pass
    return "2g"


def java_cmd(cp, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx" + driver_mem(), "-Djava.io.tmpdir=" + str(tmp)]
            + opens + ["-cp", cp, main] + args)


def run_java(cmd, log_path, timeout):
    """Run a JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("perfbench: workload timed out")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def oracle_sql(cp, bdir, tmp):
    """SparkEntry.oracleSql, dumped once per build."""
    f = bdir / "oracle_sql.json"
    stamp = bdir / "stamp"
    if f.exists() and f.stat().st_mtime >= stamp.stat().st_mtime:
        return json.loads(f.read_text())
    rc = run_java(java_cmd(cp, "perfbench.OracleSql", [str(f)], tmp),
                  tmp / "oracle_sql.log", 120)
    if rc != 0:
        raise SystemExit("perfbench: could not dump the oracle SQL")
    return json.loads(f.read_text())


def expected_answer(bdir, docs, sql, seed, n):
    """The DuckDB answer, cached per (query text, seed, corpus size,
    generator source): the inputs are a pure function of those."""
    gen = (HERE / "inputs.py").read_bytes()
    key = hashlib.sha256(("%s|%d|%d|" % (sql, seed, n)).encode() + gen).hexdigest()[:24]
    path = bdir / "oracle" / (key + ".parquet")
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        inputs.oracle_answer(docs, sql, str(tmp))
        tmp.rename(path)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test-only: off-by-one expected answer, which every op must fail
    ap.add_argument("--corrupt-expected", action="store_true",
                    help=argparse.SUPPRESS)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: no program sources next to perfbench/")
    wl = WORKLOADS[a.workload]
    cpus = len(os.sched_getaffinity(0))

    bdir = build_dir()
    cp = build(bdir)
    t_start = time.time()
    work = bdir / "work" / ("%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        args = ["workload=" + a.workload, "seed=%d" % a.seed,
                "seconds=%s" % a.seconds, "trace=%d" % a.trace,
                "work=" + str(work), "out=" + str(work / "raw.json"),
                "cpus=%d" % cpus,
                "corrupt_expected=%d" % a.corrupt_expected]
        if "query" in wl:
            sql = oracle_sql(cp, bdir, work / "tmp")[wl["query"]]
            docs = work / "docs"
            inputs.write_documents(docs, a.seed, wl["docs"])
            expected = expected_answer(bdir, docs, sql, a.seed, wl["docs"])
            args += ["docs=" + str(docs), "expected=" + str(expected)]
        else:
            args += ["history_rows=%d" % wl["history_rows"]]
        remaining = a.seconds + DEADLINE_MARGIN_S - (time.time() - t_start)
        rc = run_java(java_cmd(cp, "perfbench.Main", args, work / "tmp"),
                      work / "jvm.log", remaining)
        if rc != 0 or not (work / "raw.json").exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            raise SystemExit("perfbench: workload JVM failed (exit %d)" % rc)
        raw = json.loads((work / "raw.json").read_text())
        if a.trace:
            traces = bdir / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "raw.json",
                        traces / ("%s-seed%d.json" % (a.workload, a.seed)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    failed = [o for o in ops if not o["ok"]]
    for o in failed[:5]:
        log("op %d failed: %s" % (o["id"], o["error"]))
    for f in raw["failures"]:
        log("check failed: " + f)
    e2e, tl = metrics.end_to_end(raw)
    log("%s seed=%d ops=%d failed=%d setups=%s info=%s" % (
        a.workload, a.seed, len(ops), len(failed),
        ["%.3f" % s for s in raw["setup_s"]], json.dumps(raw["info"])))
    log("op walls: " + " ".join("%s%.3f" % ("T" if o["traced"] else "U",
        (o["end"] - o["start"]) / 1e9) for o in ops))
    log("end-to-end: " + json.dumps(e2e))
    log("op_tail_s: " + ("omitted (n=%d < 20)" % len(ops) if tl is None else
                         "p%s=%.4f s (n=%d, %d beyond)" % (tl[0], tl[1], len(ops), tl[2])))
    if a.trace:
        values, table = metrics.per_layer(raw), metrics.PER_LAYER
        for name, self_s, total_s in metrics.span_table(raw):
            log("span %-28s self %8.3f s  total %8.3f s" % (name, self_s, total_s))
    else:
        values, table = e2e, metrics.END_TO_END
    out = {name: {"value": values[name], "unit": unit} for name, unit, _ in table}
    correct = bool(ops) and not failed and not raw["failures"]
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(failed), "metrics": out}))


if __name__ == "__main__":
    main()
