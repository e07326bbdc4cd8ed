#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the checkout root):

    python3 perfbench/run.py --workload mr_etl --seed 1 --seconds 10 --trace 0

Steps:
1. Build the engine and the harness (`perfbench/build.sbt`) with sbt, unless
   a build of the same sources is already in `perfbench/.work/build`.
2. Make the seeded fixture (`fixture.py`). Not timed.
3. Run the harness (`graft.perfbench.Harness`) in one JVM on
   `local[nproc]`: set-up repetitions, warm-up passes, timed passes of the
   workload's keys for `--seconds`, then `graft.Verify` on the oracle
   fixture (`workloads.json` holds each workload's keys and fixture size).
4. Check outputs: each key's digest must agree across the set-up passes and
   a run in the session of the timed passes (and with `digests.json` for
   the default seed), and
   `scripts/oracle_check.py` must pass on the Verify dump.
5. Print every metric as `name value unit`, write the full result (context
   stamp, spans of a traced run) to `perfbench/out/`, and print one JSON
   line last: the `end_to_end` metrics of BENCHMARK.json with `--trace 0`,
   its `per_layer` ones with `--trace 1`.

Exits 1 when an output check fails, 2 when it cannot run at all.
`--pin` records the default seed's digests into `digests.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # imports from scripts/ must not write there
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
OUT = HERE / "out"
CONFIG = json.loads((HERE / "workloads.json").read_text())
# fixture.py builds each workload's fixture from these tables
FIXTURE_SOURCE = "/root/testdata/sf0.01"
# graft.Verify and scripts/oracle_check.py run on this one
ORACLE_FIXTURE = Path("/root/testdata/sf0.01")
# the seed whose digests digests.json pins
DEFAULT_SEED = 1
# the harness's share of the 180 s a run may take; the oracle check follows
DEADLINE_S = 140

# the root build's forked-JVM options (build.sbt javaOptions), but a 3 GB
# heap committed and touched up front: heap growth moved timings run to run
JVM_OPTS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Xmx3g", "-Xms3g", "-XX:+AlwaysPreTouch",
            "-XX:CICompilerCount=16"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest() -> str:
    h = hashlib.sha256()
    files = [*sorted((ROOT / "src" / "main").rglob("*")),
             *sorted((HERE / "src").rglob("*")),
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(digest: str) -> str:
    """Compile with sbt if the sources changed; return the classpath."""
    d = WORK / "build"
    stamp, cp_file = d / "stamp", d / "classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(d / "sbt.log", "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=800)
    log_text = r.stdout
    (d / "sbt.out").write_text(log_text)
    cps = [l for l in log_text.splitlines()
           if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not cps:
        die(f"build failed, see {d / 'sbt.out'}")
    cp_file.write_text(cps[-1].strip())
    stamp.write_text(digest)
    return cps[-1].strip()


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def run_harness(cp, fixture, keys, args, cpus, verify_fixture, verify_out,
                out, deadline):
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    shutil.rmtree(verify_out, ignore_errors=True)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens",
                                                   f"{p}=ALL-UNNAMED")],
           *JVM_OPTS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.system.home={run_dir}",
           "-cp", cp, "graft.perfbench.Harness",
           "--fixture", str(fixture), "--keys", ",".join(keys),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(cpus),
           "--verify-fixture", str(verify_fixture),
           "--verify-out", str(verify_out), "--out", str(out)]
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(keys),
               SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    with open(WORK / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the session's process group: the JVM and anything it spawned
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if rc != 0:
        die(f"harness {'timed out' if rc is None else f'exited {rc}'}, "
            f"see {WORK / 'jvm.log'}")
    return json.loads(out.read_text())


def oracle_check(verify_fixture, verify_out, keys):
    """Per key: True if DuckDB agrees (or, for a key without oracle SQL,
    Verify wrote a non-empty result).

    DuckDB's side of a check can take half a minute (dedup_clusters' exact
    all-pairs Jaccard), so a passing verdict is remembered under the hash of
    the key's SQL, the fixture and the canonical rows Spark wrote: the same
    dump against the same SQL cannot get another verdict.
    """
    sys.path.insert(0, str(ROOT / "scripts"))
    import duckdb
    import oracle_check as oc
    sql = json.loads((verify_out / "oracle_sql.json").read_text())
    meta = json.loads((verify_out / "verify_meta.json").read_text())
    ok = {k: meta["rows_only"].get(k, 0) > 0 for k in keys if k not in sql}
    cache_path = WORK / "oracle_cache.json"
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    con = duckdb.connect()
    fresh = {}
    for k in (k for k in keys if k in sql):
        try:
            rows = con.sql(f"SELECT * FROM '{verify_out}/{k}/*.parquet'")
            canon = sorted(repr(tuple(oc.canon(v) for v in r))
                           for r in rows.fetchall())
        except duckdb.Error:
            ok[k] = False
            continue
        fresh[k] = hashlib.sha256(json.dumps(
            [sql[k], str(verify_fixture), rows.columns, canon]).encode()
        ).hexdigest()
        ok[k] = cache.get(fresh[k]) == "PASS"
    todo = [k for k in fresh if not ok[k]]
    if todo:
        r = subprocess.run(
            [sys.executable, str(ROOT / "scripts" / "oracle_check.py"),
             str(verify_fixture), str(verify_out), *todo],
            capture_output=True, text=True, timeout=120)
        (WORK / "oracle.log").write_text(r.stdout + r.stderr)
        passed = {l.split()[1] for l in r.stdout.splitlines()
                  if l.startswith("PASS ")}
        for k in todo:
            ok[k] = k in passed
            if ok[k]:
                cache[fresh[k]] = "PASS"
        cache_path.write_text(json.dumps(cache))
    return ok


def end_to_end(res):
    passes = res["passes"]
    return {
        "wall_s": (med([p["wall_s"] for p in passes]), "s"),
        "cpu_s": (med([p["cpu_s"] for p in passes]), "s"),
        "live_heap_mb": (med([p["live_heap_mb"] for p in passes]), "MB"),
        "setup_s": (med(res["setup_s"]), "s"),
    }


def per_layer(res, cpus):
    passes, tr = res["passes"], res["trace"]
    keys, modules = res["keys"], res["modules"]

    def m(f):
        return med([f(i, p) for i, p in enumerate(passes)])

    def c(name):
        return m(lambda i, p: p.get(name, 0.0))

    def key_sum(field, only=None):
        return m(lambda i, p: sum(v[field] for k, v in p["keys"].items()
                                  if only is None or modules[k] == only))

    def self_s(kind):
        return m(lambda i, p: tr["self_by_pass"].get(str(i), {})
                 .get(f"self.{kind}_s", 0.0))

    wall = c("wall_s")
    out_rows = sum(int(d[0].split()[0].split("=")[1])
                   for d in res["digests"].values()
                   if d and d[0].startswith("rows="))
    joined = c("rows.joined")
    r = {
        "trace.wall_s": (wall, "s"),
        "ops.build_s": (key_sum("build_s"), "s"),
        "ops.build_self_s": (self_s("build"), "s"),
        "ops.build_jobs": (m(lambda i, p: tr["build_jobs_by_pass"]
                             .get(str(i), 0)), "count"),
        "catalyst.plan_s": (key_sum("plan_s"), "s"),
        "catalyst.analysis_s": (c("catalyst.analysis_s"), "s"),
        "catalyst.optimization_s": (c("catalyst.optimization_s"), "s"),
        "catalyst.planning_s": (c("catalyst.planning_s"), "s"),
        "plan.nodes": (c("plan.nodes"), "count"),
        "plan.exchanges": (c("plan.exchanges"), "count"),
        "exec.noop_s": (key_sum("exec_s"), "s"),
        "exec.self_s": (self_s("exec"), "s"),
        "spark.jobs": (m(lambda i, p: sum(
            1 for s in tr["spans"] if s["kind"] == "job" and s["pass"] == i)),
            "count"),
        "spark.stages": (m(lambda i, p: sum(
            1 for s in tr["spans"] if s["kind"] == "stage"
            and s["pass"] == i)), "count"),
        "spark.tasks": (c("spark.tasks"), "count"),
        "task.run_s": (c("task.run_s"), "s"),
        "task.cpu_s": (c("task.cpu_s"), "s"),
        "task.gc_s": (c("task.gc_s"), "s"),
        "jvm.gc_s": (c("jvm.gc_s"), "s"),
        "jvm.jit_s": (c("jvm.jit_s"), "s"),
        "driver.cpu_s": (m(lambda i, p: p["cpu_s"] - p.get("task.cpu_s", 0)),
                         "s"),
        "slots.busy_frac": (m(lambda i, p: p.get("task.duration_s", 0.0)
                              / (p["wall_s"] * cpus)), "ratio"),
        "stage.skew": (m(lambda i, p: tr["skew_by_pass"].get(str(i), 1.0)),
                       "ratio"),
        "shuffle.write_mb": (c("shuffle.write_mb"), "MB"),
        "shuffle.write_records": (c("shuffle.write_records"), "count"),
        "shuffle.read_mb": (c("shuffle.read_mb"), "MB"),
        "shuffle.fetch_wait_s": (c("shuffle.fetch_wait_s"), "s"),
        "spill.disk_mb": (c("spill.disk_mb"), "MB"),
        "spill.mem_mb": (c("spill.mem_mb"), "MB"),
        "task.peak_exec_mem_mb": (c("task.peak_exec_mem_mb"), "MB"),
        "caches.tracked": (c("caches.tracked"), "count"),
        "caches.mem_mb": (c("caches.mem_mb"), "MB"),
        "caches.disk_mb": (c("caches.disk_mb"), "MB"),
        "caches.unpersist_s": (c("caches.unpersist_s"), "s"),
        "rows.scanned": (c("rows.scanned"), "count"),
        "rows.joined": (joined, "count"),
        "rows.out": (out_rows, "count"),
        "rows.yield": (out_rows / joined if joined else 0.0, "ratio"),
        "output.write_mb": (c("output.write_mb"), "MB"),
        "output.files": (c("output.files"), "count"),
        "task.failed": (c("task.failed"), "count"),
        "task.retried": (c("task.retried"), "count"),
    }
    for mod in sorted(set(modules.values())):
        r[f"ops.{mod}.build_s"] = (key_sum("build_s", mod), "s")
    for k in keys:
        r[f"key.{k}.s"] = (m(lambda i, p: p["keys"][k]["s"]), "s")
    return r


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this run's digests as the default seed's")
    args = ap.parse_args()
    # a SIGTERM unwinds like an error, so the harness's process group is
    # killed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    for need in ("src/main/scala/graft/SparkEntry.scala",
                 "scripts/make_sf1.py", "scripts/oracle_check.py"):
        if not (ROOT / need).is_file():
            die(f"{need} not found: run from a full checkout")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for src in (Path(FIXTURE_SOURCE), ORACLE_FIXTURE):
        if not (src / "lineitem.parquet").is_file():
            die(f"fixture source {src} not found")

    digest = source_digest()
    t_build = time.time()
    cp = build(digest)
    # a run that builds gets its build time on top of the deadline
    deadline = t_start + DEADLINE_S + (time.time() - t_build)

    wl = CONFIG["workloads"][args.workload]
    keys = wl["keys"]
    sys.path.insert(0, str(HERE))
    import fixture as fx
    t0 = time.time()
    fix_dir = WORK / f"fixture-x{wl['copies']}"
    stats = fx.ensure(FIXTURE_SOURCE, fix_dir, wl["copies"], args.seed,
                      ROOT / "scripts")
    gen_s = time.time() - t0
    cpus = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()[0]
    OUT.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    raw = WORK / "harness.json"
    res = run_harness(cp, fix_dir, keys, args, cpus, ORACLE_FIXTURE,
                      WORK / "verify", raw, deadline)
    oracle = oracle_check(ORACLE_FIXTURE, WORK / "verify", keys)
    load_after = os.getloadavg()[0]

    # output checks
    pins_path = HERE / "digests.json"
    pins = json.loads(pins_path.read_text()) if pins_path.exists() else {}
    pinned = pins.get(args.workload, {}) if args.seed == DEFAULT_SEED \
        else {}
    problems = list(res["errors"])
    n_digest = 0
    for k in keys:
        ds = res["digests"].get(k, [])
        n_digest += len(ds)
        if not ds or len(set(ds)) != 1 or ds[0].startswith("error"):
            problems.append(f"{k}: digests differ across runs: {ds}")
        elif k in pinned and pinned[k] != ds[0] and not args.pin:
            problems.append(f"{k}: digest {ds[0]} != pinned {pinned[k]}")
        elif args.seed == DEFAULT_SEED and k not in pinned \
                and not args.pin:
            problems.append(f"{k}: no pinned digest for the default seed")
        if not oracle.get(k, False):
            problems.append(f"{k}: oracle check failed on {ORACLE_FIXTURE}")
    if args.pin and args.seed == DEFAULT_SEED:
        pins[args.workload] = {k: res["digests"][k][0] for k in keys}
        pins_path.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    timed = len(res["passes"]) * len(keys)
    attempted = timed + n_digest + len(keys)
    failed = len(problems)
    correct = failed == 0

    listed = [m["name"] for m in bench["end_to_end" if args.trace == 0
                                       else "per_layer"]]
    every = end_to_end(res) if args.trace == 0 else per_layer(res, cpus)
    metrics = {k: every[k] for k in listed}
    context = {
        "workload": args.workload, "keys": keys, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
        "load1_before": load_before, "load1_after": load_after,
        "spark_version": res["spark_version"], "git_commit": git_commit(),
        "source_sha256": digest,
        "fixture": {"source": FIXTURE_SOURCE, "copies": wl["copies"],
                    "tables": stats},
        "fixture_gen_s": gen_s, "passes": len(res["passes"]),
        "setup_samples": res["setup_s"], "timed_s": res["timed_s"],
    }
    walls = sorted(p["wall_s"] for p in res["passes"])
    extra = {k: v for k, v in every.items() if k not in metrics}
    extra["error_rate"] = (failed / attempted, "ratio")
    extra["wall_s.samples"] = (len(walls), "count")
    extra["wall_s.min"] = (walls[0], "s")
    extra["wall_s.max"] = (walls[-1], "s")
    if args.trace == 1:
        plain = sorted(OUT.glob(f"{args.workload}-seed*-trace0-*"),
                       key=os.path.getmtime)
        if plain:
            base = json.loads(plain[-1].read_text())["metrics"]["wall_s"]
            extra["trace.overhead"] = (
                metrics["trace.wall_s"][0] / base["value"], "ratio")
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()}}
    (OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
     ).write_text(json.dumps({**result, "extra": {
         k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
         "context": context, "problems": problems, "oracle": oracle,
         "harness": res}, indent=1))
    for k, (v, u) in {**metrics, **extra}.items():
        print(f"{k} {v:.6g} {u}")
    print(f"passes {len(res['passes'])}; setup samples {len(res['setup_s'])}; "
          f"load1 {load_before:.2f} -> {load_after:.2f}; nproc {cpus}")
    for p in problems:
        print(f"CHECK FAILED {p}")
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
