#!/usr/bin/env python3
"""Spatial-join + tiling benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver (perfbench/build.sbt: sbt offline, the jars of SPARK_HOME)
and records the build in .bench_build/; later runs reuse it while the
sources are unchanged.

Each run generates an sf-shaped input directory (orders.parquet only: the
seed picks the o_orderkey set and the engine's Synth derives the whole world
from it), computes the registry's DuckDB oracles for it once, and drives one
local[4] JVM (perfbench/src/main/scala/perfbench/Main.scala) on it:

  --trace 0  set-up three times, then timed jobs, each followed by its
             resume invocation, for --seconds (two at least). Prints the
             end-to-end metrics.
  --trace 1  one set-up, a warm-up, one traced job between two untraced
             ones (spans go to .bench_build/traces/), then the 1-CPU leg for
             scale_eff. Prints the per-layer metrics.

Every job's outputs are compared with the oracle, canonicalised as
tools/compare_oracle.py does it (columns by name, rows sorted, values
stringified, integer widths one type class). The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; the line before
it is a readable summary with fail_ratio. Any failed job makes the exit
code 1.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
P31 = 2147483647

# workload -> (orders rows of the input, registry queries whose oracles check it)
WORKLOADS = {
    "county_cold": (16384, ["q_topo_intersections", "q_geom_intersections",
                           "q_feature_city", "q_geojson_roundtrip"]),
    "image_hotspot": (12000, ["q_image_way_join", "q_image_tiles", "q_image_city",
                              "q_image_knn", "q_rule_distance_join", "q_way_raster",
                              "q_raster_polygonize", "q_image_block_density"]),
}
ALL_QUERIES = sorted({q for _, qs in WORKLOADS.values() for q in qs})
SETUPS = 3            # set-ups per timed run; setup_s is their median
HEAP_PER_CORE_MB = 768
HOT_CELLS, HOT_SHARE = 2, 0.5
KNN_SLICE = 32        # must match ImageHotspot.probeSlice

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + driver once per source state; returns the classpath."""
    out = os.path.join(BUILD, "perfbench")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + benchmark driver (sbt)")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, text=True, timeout=840)
        lf.write(res.stdout)
    lines = [l for l in res.stdout.splitlines() if l and not l.startswith("[")]
    if res.returncode != 0 or not lines:
        sys.exit(f"build failed, see {os.path.join(out, 'sbt.log')}")
    cp = lines[-1].strip()
    subprocess.run([java(), "-cp", cp, "perfbench.Oracles", os.path.join(out, "oracles.json"),
                    *ALL_QUERIES], check=True, stdin=subprocess.DEVNULL)
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


# ---- seeded inputs -------------------------------------------------------------

def grid(n):
    return max(16, min(4096, math.ceil(math.sqrt(n))))


def geotag(k, g):
    """(u, v) microdegree offsets of key k, exactly as Synth.withGeotag."""
    s = (g - 1) * 1000
    u0 = ((k * 48271 + 11) % P31) % s
    v0 = ((k * 69621 + 7) % P31) % s
    return (u0 + 13 if u0 % 500 == 0 else u0), (v0 + 13 if v0 % 500 == 0 else v0)


def is_landmark(u, v):
    return (u * 31 + v) % 997 == 0


def hot_residues(cu, cv, g, want):
    """Key residues mod 2^31-1 whose geotag lies inside res-3 cell (cu, cv),
    100 microdegrees clear of its edges: solve h1 = 48271 k + 11 (mod 2^31-1)
    for every h1 with the wanted u, keep the k whose v also lands."""
    import numpy as np
    s = (g - 1) * 1000
    inv = pow(48271, -1, P31)
    u = np.arange(cu * 1000 + 100, cu * 1000 + 900, dtype=np.int64)
    u = u[u % 500 != 0]
    h1 = (u[:, None] + s * np.arange(0, P31 // s + 1, dtype=np.int64)[None, :]).ravel()
    h1 = h1[h1 < P31]
    k = (h1 - 11) % P31 * inv % P31  # both factors < 2^31: exact in int64
    v0 = ((k * 69621 + 7) % P31) % s
    ok = (v0 >= cv * 1000 + 100) & (v0 < cv * 1000 + 900) & (v0 % 500 != 0) & (k > 0)
    ks = [int(x) for x in k[ok]]
    ks = [x for x in ks if not is_landmark(*geotag(x, g))]
    random.Random(cu * 7919 + cv).shuffle(ks)
    if len(ks) < want:
        raise RuntimeError(f"cell ({cu},{cv}) has only {len(ks)} residues")
    return ks[:want]


def make_keys(workload, seed, n):
    """The o_orderkey set of one input: n distinct keys drawn uniformly, except
    that image_hotspot puts half of them into HOT_CELLS res-3 cells: 16
    solved residues per cell, each repeated by
    adding multiples of 2^31-1 (the geotag depends only on k mod 2^31-1).
    Hot cells sit 3+ cells away from every landmark of the uniform half, so
    the landmark distance join keeps a seed-independent size."""
    rng = random.Random(f"{workload}/{seed}/{n}")
    if workload != "image_hotspot":
        return rng.sample(range(1, 1 << 36), n), 0.0
    g = grid(n)
    n_hot = int(n * HOT_SHARE)
    keys = set(rng.sample(range(1, 1 << 36), n - n_hot))
    lms = [geotag(k, g) for k in keys if is_landmark(*geotag(k, g))]
    cells = []
    while len(cells) < HOT_CELLS:
        cu, cv = rng.randrange(2, g - 3), rng.randrange(2, g - 3)
        far = all(abs(u - (cu * 1000 + 500)) > 3000 or abs(v - (cv * 1000 + 500)) > 3000
                  for u, v in lms)
        if far and (cu, cv) not in cells:
            cells.append((cu, cv))
    per_res = 16
    residues = [r for cu, cv in cells for r in hot_residues(cu, cv, g, per_res)]
    m = 0
    while len(keys) < n:
        for r in residues:
            if len(keys) == n:
                break
            keys.add(r + m * P31)
        m += 1
    keys = sorted(keys)
    hot = {(cu, cv) for cu, cv in cells}
    share = sum((u // 1000, v // 1000) in hot for u, v in (geotag(k, g) for k in keys)) / n
    return keys, share


def make_input(workload, seed, n):
    """Writes (once) and returns the input directory and its hot share."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(BUILD, "inputs", f"{workload}-s{seed}-n{n}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        keys, share = make_keys(workload, seed, n)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({"o_orderkey": pa.array(keys, pa.int64())}),
                       os.path.join(d, "orders.parquet"))
        json.dump({"rows": n, "hot_share": share}, open(meta, "w"))
    return d, json.load(open(meta))["hot_share"]


# ---- oracle ----------------------------------------------------------------------

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "inf" if math.isinf(v) else repr(v)
    return str(v)


def tclass(t):
    return "INT64ish" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
                               "USMALLINT", "UINTEGER") else t


def fingerprint(rel):
    """(typed schema, row count, digest of the sorted canonical rowset)."""
    cols, types = list(rel.columns), [str(t) for t in rel.types]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in idx) for r in rel.fetchall())
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode() + b"\x1e")
    return {"schema": sorted(zip(cols, map(tclass, types))), "rows": len(rows),
            "sha256": h.hexdigest()}


def duck(input_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{input_dir}/orders.parquet')")
    return con


def oracle_sql(q):
    sql = json.load(open(os.path.join(BUILD, "perfbench", "oracles.json")))[q].strip().rstrip(";")
    if q == "q_image_knn":
        # the benchmark runs kNN on one image key in KNN_SLICE; kNN is per
        # image, so the probe filter moves onto the oracle's probe side
        probe = "FROM imgs i, ways2 w"
        assert sql.count(probe) == 1, "q_image_knn oracle changed shape"
        sql = sql.replace(probe, "FROM (SELECT * FROM imgs WHERE CAST(substr(image_id, 4) "
                                 f"AS BIGINT) % {KNN_SLICE} = 0) i, ways2 w")
    return sql


def oracles(workload, input_dir):
    sqls = {q: oracle_sql(q) for q in WORKLOADS[workload][1]}
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(input_dir, f"oracle-{key}.json")
    if not os.path.exists(path):
        con = duck(input_dir)
        res = {q: fingerprint(con.sql(sql)) for q, sql in sqls.items()}
        json.dump(res, open(path, "w"))
    return json.load(open(path))


def check(dirs, expected):
    """Names of the queries whose output differs from the oracle."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for q, want in expected.items():
        files = glob.glob(os.path.join(dirs.get(q, "-"), "*.parquet"))
        # through JSON, like the cached oracle side
        got = files and json.loads(json.dumps(
            fingerprint(con.sql(f"SELECT * FROM read_parquet({files!r})"))))
        if got != want:
            bad.append(q)
            log(f"oracle mismatch: {q} in {dirs.get(q)}: got {got and got['rows']} rows, "
                f"want {want['rows']}")
    return bad


# ---- legs --------------------------------------------------------------------------

class Leg:
    """One JVM running perfbench.Main, pinned to `cpus`, driven line by line."""

    def __init__(self, cp, workload, input_dir, work, cpus, setups, quarter_dir=None):
        self.cores = len(cpus)
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        # ParallelGC: under G1 the peak RSS of a run spread twice as wide
        cmd = [java(), *ADD_OPENS, "-XX:+UseParallelGC", f"-Xmx{HEAP_PER_CORE_MB * self.cores}m",
               f"-XX:ActiveProcessorCount={self.cores}",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", cp, "perfbench.Main", "--workload", workload, "--input", input_dir,
               "--work", work, "--cores", str(self.cores), "--setups", str(setups)]
        if quarter_dir:
            cmd += ["--quarter", quarter_dir]
        self.log = open(os.path.join(work, "jvm.log"), "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1,
                                     preexec_fn=lambda: os.sched_setaffinity(0, cpus))
        self.ready = None

    def reply(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"JVM exited ({self.log.name})")
            if line.startswith("PB "):
                return json.loads(line[3:])

    def wait_ready(self):
        if self.ready is None:
            self.ready = self.reply()
        return self.ready

    def send(self, cmd):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.reply()

    def pin(self, cpus):
        """sets the CPU affinity of every thread of the JVM"""
        for _ in range(2):  # again, for threads started meanwhile
            for tid in os.listdir(f"/proc/{self.proc.pid}/task"):
                try:
                    os.sched_setaffinity(int(tid), cpus)
                except ProcessLookupError:
                    pass

    def quit(self):
        try:
            r = self.send("quit")
        finally:
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
            self.log.close()
        return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("run from the repository root: the engine sources (src/main/scala/graft) are missing")

    cp = build()
    n, _ = WORKLOADS[a.workload]
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = set(sorted(os.sched_getaffinity(0))[:4])
    checks = []  # ({query: output dir}, expected oracle fingerprints, None for a failed job)
    full_dir, hot_share = make_input(a.workload, a.seed, n)
    leg = None
    try:
        # the oracles are computed while the JVM boots; the first set-up is
        # never the median one
        if a.trace:
            quarter_dir, _ = make_input(a.workload, a.seed, n // 4)
            leg = Leg(cp, a.workload, full_dir, work, cpus, 1, quarter_dir)
            want, want1 = oracles(a.workload, full_dir), oracles(a.workload, quarter_dir)
            metrics = traced(leg, cpus, want, want1, checks)
        else:
            leg = Leg(cp, a.workload, full_dir, work, cpus, SETUPS)
            metrics = timed(a, leg, oracles(a.workload, full_dir), checks)
        attempted = len(checks)
        failed = sum(1 for d, w in checks if w is None or check(d, w))
    finally:
        if leg and leg.proc.poll() is None:
            leg.proc.kill()
            leg.proc.wait()
    trace_file = os.path.join(work, "trace", "trace.json")
    if os.path.exists(trace_file):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(trace_file, os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    summary = " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    print(f"{a.workload} seed={a.seed} hot_share={hot_share:.4f} "
          f"fail_ratio={failed}/{attempted} {summary}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


def run_job(leg, cmd, tag, expected, checks):
    r = leg.send(f"{cmd} {tag}")
    ok = r.get("event") == "done" and r.get("resume_ok", True)
    if ok:
        log(f"{cmd} {tag}: job_s={r['job_s']:.3f} resume_s={r.get('resume_s', 0):.3f}")
    else:
        log(f"{cmd} {tag} failed: {r}")
    checks.append((r.get("checks", {}), expected if ok else None))
    return r if ok else None


def timed(a, leg, want, checks):
    """Timed jobs, each followed by its resume invocation, until --seconds
    have passed, at least two. The first job of the process is timed too: a
    batch user pays it, and a separate warm-up job would not fit the
    benchmark's time budget."""
    ready = leg.wait_ready()
    jobs, resumes = [], []
    start = time.monotonic()
    while len(jobs) < 2 or time.monotonic() - start < a.seconds:
        r = run_job(leg, "job", f"j{len(checks)}", want, checks)
        if r is None:
            break
        jobs.append(r["job_s"])
        resumes.append(r["resume_s"])
    rss = leg.quit()["peak_rss_mb"]
    if not jobs:
        sys.exit("no job completed")
    job_s = statistics.median(jobs)
    return {
        "job_s": {"value": job_s, "unit": "s"},
        "rows_per_s": {"value": ready["input_rows"] / job_s, "unit": "rows/s"},
        "setup_s": {"value": statistics.median(ready["setup_s"]), "unit": "s"},
        "peak_rss_mb": {"value": rss, "unit": "MiB"},
        "resume_s": {"value": statistics.median(resumes), "unit": "s"},
    }


LAYER_UNITS = {"_s": "s", ".jobs": "count", "_mb": "MiB", ".bytes": "bytes", ".yield": "ratio",
               "skew": "ratio", "scale_eff": "ratio"}


def traced(leg, cpus, want, want1, checks):
    """A warm-up, one traced job between two untraced ones, then the 1-CPU
    leg: the same JVM with every thread pinned to one CPU runs the
    quarter-size input.
    scale_eff is rows/s on four CPUs over 4 x rows/s on one."""
    ready = leg.wait_ready()
    warm = run_job(leg, "plain", "warm", want, checks)
    before = run_job(leg, "plain", "before", want, checks)
    t = run_job(leg, "trace", "trace", want, checks)
    after = run_job(leg, "plain", "after", want, checks)
    leg.pin({max(cpus)})
    one = [run_job(leg, "plain1", f"q{i}", want1, checks) for i in range(2)]
    leg.pin(cpus)
    leg.quit()
    if None in (warm, before, t, after, *one):
        sys.exit("a job of the traced pass failed")
    # untraced jobs on both sides of the traced one, so JIT warm-up drift
    # does not pass for tracing overhead
    job4 = (before["job_s"] + after["job_s"]) / 2
    job1 = one[1]["job_s"]  # the first warms the quarter-size shapes
    metrics = {k: {"value": v, "unit": next((u for suf, u in LAYER_UNITS.items()
                                             if k.endswith(suf)), "count")}
               for k, v in sorted(t["layers"].items())}
    metrics["trace.overhead_s"] = {"value": t["job_s"] - job4, "unit": "s"}
    metrics["scale_eff"] = {"value": (ready["input_rows"] / job4)
                            / (4 * ready["quarter_rows"] / job1), "unit": "ratio"}
    return metrics


if __name__ == "__main__":
    main()
