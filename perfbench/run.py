#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
from the checkout's sources (sbt, cached by a hash of the sources),
starts a private PostgreSQL cluster under `.bench_build/perfbench/pg`,
generates the workload's inputs from the seed, measures the workload
closed-loop with one client for the given seconds, checks every output
and prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the per-layer metrics, from a run whose
traced iterations alternate with untraced ones. Per-run host context
(loadavg, pg_stat_wal deltas, GC count, peak RSS) is printed on the line
before. Apart from sbt's target directories, everything the benchmark
writes stays under `.bench_build/`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402

# setup_s is the median of this many JVM launches per run (a third
# launch does not fit the time budget of 22 runs per workload)
SETUPS = 2
JVM_TIMEOUT = 150   # seconds; a stuck JVM is killed and the run fails
CPUS = len(os.sched_getaffinity(0))

# csv_copy: three monthly files; one row in CSV_BAD_EVERY (at seeded
# positions) is refused by the server and must land in the reject file
CSV_MONTHS = [(202306, 40_000), (202307, 40_000), (202308, 40_000)]
CSV_BAD_EVERY = 10_000
MIGRATE_TABLES = 60

# query_suite: a fixed cross-section of SparkEntry.queries, in this fixed
# order (the first queries after the warm set pay shared one-time costs,
# so a seeded order spreads the per-query times), grouped by the module
# that implements each query. The full 121 do not fit a run.
QUERY_MODULES = {
    "stream_cms_topk": "streaming", "events_sessionize": "streaming",
    "dedup_simhash": "pipeline", "hard_negatives": "pipeline",
    "asof_join": "operators", "upsert_latest": "operators",
    "transform_int_to_ip": "functions",
    "csv_roundtrip": "sources", "fixed_width": "sources",
    "sink_bisect": "sinks",
    "agg_minmax": "spark",
}
STREAM_QUERIES = {"stream_cms_topk", "events_sessionize"}
DEDUP_QUERIES = {"dedup_simhash", "hard_negatives"}  # Dedup.scala, Similarity.scala
# query -> {rows, digest}, copied from the harness output of a run of
# the same code whose graft.Verify outputs passed tools/compare_oracle.py
# (see README.md)
EXPECTED_DIGESTS = HERE / "expected_digests.json"
# graft.Bench's untimed warm set
WARM_SET = ["q1_agg", "trim_fields", "rolling_features", "dedup_exact",
            "text_token_count", "events_stream_dedup"]

WORKLOADS = {"csv_copy": "load", "pg_migrate": "load", "query_suite": "query"}

# the JDK packages Spark needs opened; the harness's sbt tests read the
# same file
ADD_OPENS = (HERE / "harness" / "add-opens.txt").read_text().split()


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def _source_files():
    files = [ROOT / "build.sbt", HERE / "harness" / "build.sbt",
             HERE / "harness" / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt"))
    files += sorted((ROOT / "project").glob("*.properties"))
    for base in (ROOT / "src" / "main", HERE / "harness" / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def build():
    """Compile the program and the harness; return the runtime classpath."""
    h = hashlib.sha256()
    for f in _source_files():
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    cp_file = WORK / "build" / f"{h.hexdigest()[:20]}.classpath"
    if cp_file.is_file():
        return cp_file.read_text().strip()
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        # offline resolution from the local caches, as the test command does
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building program and harness (sbt)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE / "harness", env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise BenchError("build failed")
    cp_file.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    return lines[-1].strip()


# ---- PostgreSQL ------------------------------------------------------------

def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    """A private PostgreSQL 15 cluster inside the checkout. The server
    refuses to run as root; as root it runs in a user namespace that
    maps root to an unprivileged id, so the files stay root's."""

    def __init__(self, base):
        self.base = base
        self.data = base / "data"
        self.port = None
        self.wrap = (["unshare", "--user", "--map-user=1000",
                      "--map-group=1000"] if os.geteuid() == 0 else [])

    def _run(self, args, **kw):
        return subprocess.run(self.wrap + args, stdin=subprocess.DEVNULL,
                              capture_output=True, text=True, **kw)

    def start(self):
        self.base.mkdir(parents=True, exist_ok=True)
        if not (self.data / "PG_VERSION").is_file():
            tmp = self.base / "data.init"
            shutil.rmtree(tmp, ignore_errors=True)
            r = self._run(["initdb", "-D", str(tmp), "-U", "graft",
                           "--auth=trust", "--encoding=UTF8", "--locale=C",
                           "-N"], timeout=120)
            if r.returncode != 0:
                raise BenchError("initdb failed: " + r.stderr[-2000:])
            with open(tmp / "postgresql.conf", "a") as f:
                f.write("\ninclude 'perfbench.conf'\n")
            tmp.rename(self.data)
        # the flush and memory policy lives in perfbench/postgresql.conf
        shutil.copyfile(HERE / "postgresql.conf", self.data / "perfbench.conf")
        if (self.data / "postmaster.pid").exists():
            # left behind by a killed run: stop that server first
            self._run(["pg_ctl", "-D", str(self.data), "-m", "immediate",
                       "-w", "stop"], timeout=60)
        self.port = _free_port()
        r = self._run(["pg_ctl", "-D", str(self.data), "-l",
                       str(self.base / "server.log"), "-w", "-t", "60", "-o",
                       f"-p {self.port} -c listen_addresses=127.0.0.1 "
                       "-c unix_socket_directories=''", "start"], timeout=90)
        if r.returncode != 0:
            raise BenchError("postgres start failed: " + r.stdout[-2000:])

    def stop(self):
        if self.port is not None:
            self._run(["pg_ctl", "-D", str(self.data), "-m", "fast", "-w",
                       "-t", "60", "stop"], timeout=90)
            self.port = None

    def uri(self, db):
        return f"postgresql://graft@127.0.0.1:{self.port}/{db}"

    def psql(self, db, sql=None, file=None):
        args = ["psql", "-h", "127.0.0.1", "-p", str(self.port), "-U",
                "graft", "-d", db, "-v", "ON_ERROR_STOP=1", "-qAt"]
        args += ["-f", str(file)] if file else ["-c", sql]
        r = subprocess.run(args, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=120)
        if r.returncode != 0:
            raise BenchError(f"psql on {db} failed: {r.stderr[-2000:]}")
        return r.stdout

    def ensure_db(self, db):
        if not self.psql("postgres", "SELECT 1 FROM pg_database WHERE "
                                     f"datname = '{db}'").strip():
            self.psql("postgres", f"CREATE DATABASE {db}")
            return True
        return False


# ---- workloads -------------------------------------------------------------

DIVVY_LOAD = """LOAD CSV
     FROM ALL FILENAMES MATCHING ~/\\d{{6}}-divvy-tripdata\\.csv$/
          IN DIRECTORY '{dir}'
          HAVING FIELDS ({fields})
     INTO {uri}
     TARGET TABLE public.divvy_trips
     WITH truncate, skip header = 1, fields optionally enclosed by '"',
          fields terminated by ',', workers = {workers}
     SET work_mem to '64MB', maintenance_work_mem to '256MB'
     BEFORE LOAD DO
         $$ DROP TABLE IF EXISTS public.divvy_trips; $$,
         $$ CREATE TABLE public.divvy_trips ({columns}); $$;
"""

MIGRATE_LOAD = """LOAD DATABASE FROM {src}
     INTO {dst}
     WITH include drop, create tables, workers = {workers};
"""


def prepare(workload, seed, pg):
    """Generate the seeded inputs (cached per seed), and return the
    harness plan section plus the manifest the outputs are checked
    against."""
    inputs = WORK / "inputs" / f"{workload}-{seed}"
    manifest_file = inputs / "manifest.json"
    if workload == "query_suite":
        return {"data": str(HERE / "data"), "warm": WARM_SET,
                "queries": list(QUERY_MODULES), "modules": QUERY_MODULES}, {
            "expected": json.loads(EXPECTED_DIGESTS.read_text())}
    if not manifest_file.is_file():
        shutil.rmtree(inputs, ignore_errors=True)
        inputs.mkdir(parents=True)
        if workload == "pg_migrate":
            sql, manifest = gen.gen_migrate(seed, MIGRATE_TABLES)
            (inputs / "source.sql").write_text(sql)
        else:
            manifest = gen.gen_divvy(inputs / "csv", seed, CSV_MONTHS,
                                     bad_every=CSV_BAD_EVERY)
        gen.write_json(manifest_file, manifest)
    manifest = json.loads(manifest_file.read_text())
    workers = min(CPUS, 4)
    if workload == "pg_migrate":
        src = f"src_{seed}"
        if pg.ensure_db(src) or not pg.psql(
                src, "SELECT 1 FROM pg_tables WHERE tablename = "
                     f"'t{MIGRATE_TABLES}'").strip():
            pg.psql(src, file=inputs / "source.sql")
        pg.ensure_db("target")
        text = MIGRATE_LOAD.format(src=pg.uri(src), dst=pg.uri("target"),
                                   workers=workers)
        checks = [{"uri": pg.uri(db), "sql": sql}
                  for db in (src, "target")
                  for sql in gen.migrate_checks(MIGRATE_TABLES).values()]
        reset = ["DROP SCHEMA IF EXISTS public CASCADE",
                 "CREATE SCHEMA public", "VACUUM ANALYZE"]
    else:
        pg.ensure_db("target")
        text = DIVVY_LOAD.format(
            dir=inputs / "csv", uri=pg.uri("target"), workers=workers,
            fields=", ".join(c for c, _ in gen.DIVVY_COLUMNS),
            columns=", ".join(f"{c} {t}" for c, t in gen.DIVVY_COLUMNS))
        checks = [{"uri": pg.uri("target"),
                   "sql": gen.CSV_DIGEST_SQL.format(table="public.divvy_trips")}]
        reset = ["DROP TABLE IF EXISTS public.divvy_trips", "VACUUM ANALYZE"]
    load_file = WORK / "run" / f"{workload}.load"
    load_file.parent.mkdir(parents=True, exist_ok=True)
    load_file.write_text(text)
    return {"file": str(load_file), "base_dir": str(inputs),
            "target": pg.uri("target"), "reset": reset, "checks": checks,
            "reject_dir": str(WORK / "run" / "rejects")}, manifest


def run_jvm(cp, plan, name):
    run_dir = WORK / "run"
    for d in ("cwd", "tmp", "local", "scratch"):
        # a halted setup probe leaves Spark's scratch behind
        shutil.rmtree(run_dir / d, ignore_errors=True)
        (run_dir / d).mkdir(parents=True)
    plan = dict(plan, out=str(run_dir / f"{name}.out.json"),
                local_dir=str(run_dir / "local"), cpus=CPUS)
    Path(plan["out"]).unlink(missing_ok=True)
    plan_file = run_dir / f"{name}.plan.json"
    args = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             f"-Dderby.system.home={run_dir / 'cwd'}",
             "-cp", cp, "perfbench.Harness", str(plan_file)])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(run_dir / "scratch"))
    plan["launched_ns"] = time.time_ns()
    plan_file.write_text(json.dumps(plan))
    proc = subprocess.Popen(args, cwd=run_dir / "cwd", env=env,
                            stdin=subprocess.DEVNULL,
                            stdout=subprocess.DEVNULL,
                            stderr=open(run_dir / f"{name}.log", "w"))
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not Path(plan["out"]).is_file():
        tail = (run_dir / f"{name}.log").read_text()[-3000:]
        raise BenchError(f"harness exited {rc}:\n{tail}")
    return json.loads(Path(plan["out"]).read_text())


# ---- checks ----------------------------------------------------------------

def check_load(workload, it, manifest):
    """(failed, attempted) target tables of one load iteration: an
    operation is one target table."""
    op = it["ops"][0]
    if workload == "pg_migrate":
        names = {f"t{i}" for i in range(1, manifest["tables"] + 1)}
        # the same catalog and content queries ran on source and target
        n = len(it["checks"]) // 2
        bad = set()
        for src, dst in zip(it["checks"][:n], it["checks"][n:]):
            diff = {tuple(r) for r in src} ^ {tuple(r) for r in dst}
            named = {r[0].split(".")[-1] for r in diff} & names
            # a difference that names no table fails them all
            bad |= named or (names if diff else set())
        counts = {r[0]: r[1] for r in it["checks"][-1] if len(r) > 1}
        bad |= {t for t in names
                if counts.get(t) != str(manifest["rows_per_table"])}
        if op["error"]:
            bad = names
        return max(len(bad), op["table_errors"]), len(names)
    ok = (not op["error"] and not op["table_errors"]
          and op["rows"] == manifest["rows"]
          and it["checks"][0] == [[str(manifest["rows"]), manifest["digest"]]])
    bad_ids = sorted(b["ride_id"] for b in manifest["bad"])
    rejected_ids = sorted(l.split("\t", 1)[0] for l in it["rejects"])
    ok = ok and op["rejected"] == len(bad_ids) and rejected_ids == bad_ids
    return (0 if ok else 1), 1


def check_query(op, expected):
    want = expected.get(op["name"])
    return not op["error"] and want is not None and \
        [op["rows"], op["digest"]] == [want["rows"], want["digest"]]


# ---- metrics ---------------------------------------------------------------

def evaluate(workload, res, setups, manifest, trace):
    its = res["iterations"]
    plain = [i for i in its if not i["traced"]]
    traced = [i for i in its if i["traced"]]
    attempted = failed = 0
    for it in its:
        if WORKLOADS[workload] == "load":
            f, a = check_load(workload, it, manifest)
        else:
            bad = [op for op in it["ops"]
                   if not check_query(op, manifest["expected"])]
            for op in bad:
                log(f"check failed: {op['name']} rows={op['rows']} "
                    f"digest={op['digest']} error={op['error']}")
            f, a = len(bad), len(it["ops"])
        attempted += a
        failed += f

    def pass_secs(it):
        return sum(op["secs"] for op in it["ops"])
    ops = [op for it in plain for op in it["ops"]]
    if WORKLOADS[workload] == "load":
        op_p50 = statistics.median(op["secs"] for op in ops)
    else:
        by_name = {}
        for op in ops:
            by_name.setdefault(op["name"], []).append(op["secs"])
        op_p50 = statistics.median(statistics.median(v)
                                   for v in by_name.values())
    if not trace:
        metrics = {
            "setup_s": statistics.median(setups),
            "op_p50_s": op_p50,
            # rows delivered per second of operation time, over all the
            # run's operations
            "rows_per_s": sum(op["rows"] for op in ops) /
                          sum(op["secs"] for op in ops),
        }
        units = metric_units("end_to_end")
    else:
        # a query's first pass is the cold one, like the untraced runs'
        # passes; later passes are warm
        layer_its = traced[:1] if WORKLOADS[workload] == "query" else traced
        units = metric_units("per_layer")
        metrics = {name: statistics.median(
            it["layers"].get(name, 0.0) for it in layer_its)
            for name in units}
        if WORKLOADS[workload] == "query":
            for group, names in (("query.suite_s", set(QUERY_MODULES)),
                                 ("query.stream_s", STREAM_QUERIES),
                                 ("query.dedup_s", DEDUP_QUERIES)):
                metrics[group] = statistics.median(
                    sum(op["secs"] for op in it["ops"] if op["name"] in names)
                    for it in layer_its)
        else:
            metrics["load.load_s"] = op_p50
        # traced minus untraced operation time, iterations after the first
        later = its[1:]
        metrics["trace.overhead_s"] = (
            statistics.median(pass_secs(i) for i in later if i["traced"]) -
            statistics.median(pass_secs(i) for i in later if not i["traced"]))
    out = {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}
    return out, attempted, failed


def metric_units(section):
    """name -> unit of the BENCHMARK.json metrics in `section`."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no program sources under {ROOT}: run from a checkout root")
        return 2

    # SIGTERM ends the run through the same cleanup as an error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # runs in one checkout share the cluster and the build: one at a time
    WORK.mkdir(parents=True, exist_ok=True)
    lock = open(WORK / "lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cp = build()
    load_before = os.getloadavg()
    pg = Postgres(WORK / "pg")
    kind = WORKLOADS[args.workload]
    try:
        if kind == "load":
            pg.start()
        plan_part, manifest = prepare(args.workload, args.seed, pg)
        base = {"kind": kind, kind: plan_part, "seconds": args.seconds,
                "trace": bool(args.trace)}
        setups = [run_jvm(cp, dict(base, setup_only=True), f"setup{i}")
                  ["setup_s"] for i in range(SETUPS - 1)]
        res = run_jvm(cp, dict(base, setup_only=False), "main")
        setups.append(res["setup_s"])
    finally:
        pg.stop()
    load_after = os.getloadavg()

    metrics, attempted, failed = evaluate(args.workload, res, setups,
                                          manifest, args.trace)
    context = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "cpus": CPUS, "warm_s": res["warm_s"],
               "loadavg_before": load_before, "loadavg_after": load_after,
               "jvm_gc_count": res["gc_count"], "setups_s": setups,
               "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
               "measured_s": res["measured_s"],
               "iterations": len(res["iterations"]), **res["context"]}
    ctx_file = WORK / "context" / f"{args.workload}-{args.seed}-{args.trace}.json"
    ctx_file.parent.mkdir(parents=True, exist_ok=True)
    ctx_file.write_text(json.dumps(context))
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        sys.exit(1)
