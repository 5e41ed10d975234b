"""Benchmark of the df_spark engine: end-to-end and per-layer metrics.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --all          # every workload, untraced + traced
    python3 perfbench/run.py --self-check   # tiny inputs, asserts every metric

Workloads (closed loop, one Spark session at ``local[nproc]``):

- ``llm_dedup``: one caller. Each iteration clears every session memo
  (a cold session), runs the dedup family's shared ``_build_dedup_*``
  builds, then dedup and text registry queries that read those memos,
  each through a ``noop`` sink, over a seeded corpus with fixed
  duplicate shares.
- ``plan_server``: ``df_spark.server`` on localhost and 4 client
  threads replaying the reference wire protocol (Read -> Filter ->
  [Join] -> Select -> GroupBy -> Aggregation -> [OrderBy] -> Collect,
  Count or Take). Each iteration starts a fresh ``Engine`` (an empty
  ``PlanCache``); half the plans of an iteration repeat an earlier one.

Set-up (``setup_s``) is the session start plus the median of three
rounds of input generation and first load, plus the warm-up
iteration, whose results are kept for the correctness check. The
check runs halfway through the timed iterations, outside every timed
call and not counted against ``--seconds``: registry queries against
their DuckDB ``oracle_sql()`` twins, server plans against DuckDB SQL
for the same plan. The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1`` (Spark event log
on, outside-in spans around public functions of the engine's modules).
A detailed record of each run goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

SIZES = {
    "full": {"docs": 200, "orders": 15000, "plans": 12},
    "tiny": {"docs": 100, "orders": 1500, "plans": 6},  # about sf0.001
}
SETUP_ROUNDS = 3
MIN_ITERATIONS = 2

LLM_BUILDS = ("_build_dedup_minhash", "_build_dedup_neardups")
LLM_QUERIES = ("dedup_exact", "minhash_near_dups", "text_stats")
JOIN_SHARE = 0.25
REPEAT_SHARE = 0.5

END_TO_END = {  # name -> unit; the contract's end-to-end metrics
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "plan_ms": "ms", "exec_ms": "ms",
}
# Per-layer metrics, per timed iteration (median over iterations), and
# the end-to-end metric each should move, on which workload:
#   session.*                          setup_s                 both
#   tables.* (sources.tables)          cpu_s, wall_s           llm_dedup (server bypasses load_sdf)
#   driver.* (frame/expr + Catalyst)   plan_ms                 plan_server, llm_dedup
#   sched.*                            exec_ms, wall_s         both
#   exec.*, shuffle.*, spill.*         cpu_s, wall_s           both
#   pyworker.* (dedup, functions.text) cpu_s                   llm_dedup (0 on plan_server)
#   memo.* (plans.memo, plans.warm)    wall_s, cpu_s           llm_dedup (0 on plan_server)
#   query.<name>.*                     wall_s, cpu_s           llm_dedup
#   cache.* (plans.cache, fingerprint) exec_ms                 plan_server (0 on llm_dedup)
#   server.*                           plan_ms, exec_ms        plan_server (0 on llm_dedup)
#   tasks.failed, jobs.failed          the run's failed count  both
#   trace.*: the traced run's own wall_s/cpu_s; minus the untraced run's
#   figures they give the tracing overhead (printed by --all)
PER_LAYER = {
    "session.start_s": "s",
    "tables.load_s": "s", "tables.scan_tasks": "count", "tables.scan_bytes": "bytes",
    "tables.spread_exchanges": "count",
    "driver.plan_s": "s", "driver.jobs_per_query": "count", "driver.gap_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count", "sched.delay_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "pyworker.stage_run_s": "s", "pyworker.bytes_sent": "bytes", "pyworker.rows_returned": "count",
    "memo.hits": "count", "memo.misses": "count", "memo.hit_ratio": "ratio",
    **{f"memo.build_s.{b}": "s" for b in LLM_BUILDS},
    **{f"query.{q}.{m}": "s" for q in LLM_QUERIES for m in ("wall_s", "cpu_s")},
    "cache.hits": "count", "cache.misses": "count", "cache.hit_ratio": "ratio", "cache.get_s": "s",
    "server.build_s": "s", "server.blocks_s": "s", "server.response_bytes": "bytes",
    "tasks.failed": "count", "jobs.failed": "count",
    "trace.wall_s": "s", "trace.cpu_s": "s",
}


# ---------------------------------------------------------------------------
# host and process-tree probes
# ---------------------------------------------------------------------------


def _tree_pids() -> list[int]:
    """This process and every descendant."""
    parent = {}
    for path in os.listdir("/proc"):
        if not path.isdigit():
            continue
        try:
            with open(f"/proc/{path}/stat") as f:
                parent[int(path)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    me, out = os.getpid(), []
    for pid in parent:
        p, hops = pid, 0
        while p not in (0, 1) and hops < 32:
            if p == me:
                out.append(pid)
                break
            p, hops = parent.get(p, 0), hops + 1
    return out


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of the live process tree, in MB, summed by
    program name (the JVM, this Python, its Python workers)."""
    out: dict[str, float] = {}
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def code_id() -> str:
    """The commit when the checkout is a git repository, else a hash of
    the engine's sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        top, _, head = out.stdout.strip().partition("\n")
        if out.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return head
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, "df_spark"))):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def host_env(work: str) -> dict:
    """Pin the engine to this host: all cores, a driver heap sized to
    memory, and every scratch path inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(4, mem_kb // (6 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return {"nproc": cpus, "mem_total_gb": round(mem_kb / 2**20, 1),
            "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.size = SIZES[args.size]
        self.traced = bool(args.trace)
        self.failures: list[str] = []
        self.attempted = 0
        self.iters: list[dict] = []  # timed iterations
        self.plan_info: dict[int, dict] = {}  # iteration -> planning totals
        self.plan_lock = threading.Lock()  # server handler threads add to it
        self.tracer = None

    # -- session -----------------------------------------------------------

    def start_session(self) -> None:
        t0 = time.time()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        from df_spark.session import get_spark
        self.spark = get_spark("perfbench", short_lived=True, extra_conf=conf)
        self.session_start_s = time.time() - t0

    def stop_session(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- timing helpers ------------------------------------------------------

    def quiesce(self, max_wait: float = 8.0, idle_rate: float = 1.0) -> None:
        """Wait (outside any timed region) until the process tree burns
        under ``idle_rate`` cores, so one call's asynchronous clean-up
        is not billed to the next (bench.py's rule)."""
        deadline = time.time() + max_wait
        while time.time() < deadline:
            c0 = self.cpu()
            time.sleep(0.05)
            if (self.cpu() - c0) / 0.05 < idle_rate:
                return

    def cpu(self) -> float:
        from bench import jvm_cpu_seconds

        return jvm_cpu_seconds()

    def note_failure(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", flush=True)

    def record_plan(self, sdf) -> None:
        """Traced run only: force the frame's physical plan, add its
        analysis/optimization/planning time (QueryPlanningTracker) and
        its scan-spread exchanges to the current iteration."""
        qe = sdf._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        it, ms = phases.valuesIterator(), 0
        while it.hasNext():
            ms += it.next().durationMs()
        spread = spread_exchanges(plan)
        with self.plan_lock:
            rec = self.plan_info.setdefault(self.tracer.iteration, {"plan_s": 0.0, "spread": 0})
            rec["plan_s"] += ms / 1000.0
            rec["spread"] += spread


_PASS_THROUGH = ("Project", "Filter", "ColumnarToRow", "InputAdapter", "WholeStageCodegen")


def spread_exchanges(plan: str) -> int:
    """Count ``Exchange hashpartitioning`` nodes directly above a
    parquet scan (only projections, filters and codegen wrappers
    between them) in an executed-plan string: the load-time scan
    spread of ``sources.tables``."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^([\s:+\-]*)(.*)$", line)
        nodes.append((len(m.group(1)), re.sub(r"^\*\(\d+\)\s*", "", m.group(2))))
    count = 0
    for i, (depth, text) in enumerate(nodes):
        if not text.startswith("Exchange hashpartitioning"):
            continue
        for d, t in nodes[i + 1:]:
            if d <= depth:
                break
            if re.match(r"(File)?Scan parquet", t):
                count += 1
                break
            if not t.startswith(_PASS_THROUGH):
                break
    return count


# ---------------------------------------------------------------------------
# workload: llm_dedup
# ---------------------------------------------------------------------------


class LlmDedup:
    name = "llm_dedup"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.outputs: dict[str, tuple[list, list]] = {}

    def generate(self, out_dir: str) -> dict:
        import datagen

        return datagen.gen_documents(out_dir, self.run.args.seed, self.run.size["docs"])

    def prime(self, data_dir: str) -> None:
        from df_spark.sources import tables

        tables.load_sdf(self.run.spark, data_dir, "documents").count()

    def iteration(self, data_dir: str, collect: bool) -> dict:
        from df_spark.plans.memo import ALL_MEMOS, clear_all_memos
        from df_spark.plans.warm import family_warm_builds
        from df_spark.queries import load_registry

        run, tr = self.run, self.run.tracer
        spark = run.spark
        registry = load_registry()
        clear_all_memos()
        builds = dict(family_warm_builds(spark, data_dir))
        out = {"wall": 0.0, "cpu": 0.0, "plan": [], "exec": [], "builds": {}, "queries": {}}

        def timed(label: str, fn):
            run.quiesce()
            run.attempted += 1
            c0, t0 = run.cpu(), time.time()
            try:
                with tr.span(label, job_group=True) if tr else contextlib.nullcontext():
                    fn()
            except Exception as e:  # noqa: BLE001 — count and report, keep going
                run.note_failure(f"{label}: {type(e).__name__}: {str(e)[:300]}")
            wall, cpu = time.time() - t0, run.cpu() - c0
            out["wall"] += wall
            out["cpu"] += cpu
            return wall, cpu

        for b in LLM_BUILDS:
            out["builds"][b] = timed("build:" + b, builds[b])[0]
        for q in LLM_QUERIES:
            lat = {}

            def one(q=q, lat=lat):
                t0 = time.time()
                sdf = registry[q].fn(spark, data_dir)
                lat["plan"] = time.time() - t0
                if tr:
                    run.record_plan(sdf)
                t1 = time.time()
                if collect:
                    self.outputs[q] = (sdf.columns, [tuple(r) for r in sdf.collect()])
                else:
                    sdf.write.format("noop").mode("overwrite").save()
                lat["exec"] = time.time() - t1

            wall, cpu = timed("query:" + q, one)
            out["queries"][q] = (wall, cpu)
            if "exec" in lat:
                out["plan"].append(lat["plan"])
                out["exec"].append(lat["exec"])
        # read before the next iteration's clear() zeroes them
        out["memo_hits"] = sum(m.hits for m in ALL_MEMOS)
        out["memo_misses"] = sum(m.misses for m in ALL_MEMOS)
        return out

    def check(self, data_dir: str) -> int:
        """Compare each query's warm-up output with its DuckDB oracle;
        returns the number of checks made."""
        import duckdb
        from check_oracle import to_multiset
        from df_spark.queries import load_registry

        registry = load_registry()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{data_dir}/documents.parquet')")
        for q in LLM_QUERIES:
            if q not in self.outputs:
                self.run.note_failure(f"oracle {q}: no engine output to check")
                continue
            names, rows = self.outputs[q]
            res = con.execute(registry[q].sql)
            duck_names = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            if sorted(names) != sorted(duck_names):
                self.run.note_failure(f"oracle {q}: columns {sorted(names)} != {sorted(duck_names)}")
            elif to_multiset(rows, names) != to_multiset(duck_rows, duck_names):
                self.run.note_failure(f"oracle {q}: {len(rows)} engine rows differ from "
                                      f"{len(duck_rows)} DuckDB rows")
        con.close()
        return len(LLM_QUERIES)


# ---------------------------------------------------------------------------
# workload: plan_server
# ---------------------------------------------------------------------------


class PlanServer:
    name = "plan_server"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.outputs: list[tuple[list, dict]] = []
        self.clients = min(4, len(os.sched_getaffinity(0)))

    def generate(self, out_dir: str) -> dict:
        import datagen

        return datagen.gen_orders_lineitem(out_dir, self.run.args.seed, self.run.size["orders"])

    def prime(self, data_dir: str) -> None:
        from df_spark.frame import Df

        for t in ("lineitem", "orders"):
            Df.from_parquet(self.run.spark, f"{data_dir}/{t}.parquet").count()

    def _handler(self, engine):
        from df_spark.server import make_handler

        base = make_handler(engine)
        tr = self.run.tracer
        if tr is None:
            return base

        class Traced(base):
            def do_POST(self):  # noqa: N802 — http.server API
                with tr.span("request", job_group=True):
                    return base.do_POST(self)

        return Traced

    def iteration(self, data_dir: str, collect: bool) -> dict:
        from http.server import ThreadingHTTPServer

        import wire
        from df_spark.server import Engine

        run = self.run
        stream = wire.make_stream(run.args.seed, data_dir, run.size["plans"],
                                  JOIN_SHARE, REPEAT_SHARE)
        engine = Engine(run.spark)
        httpd = ThreadingHTTPServer(("127.0.0.1", 0), self._handler(engine))
        server = threading.Thread(target=httpd.serve_forever, daemon=True)
        server.start()
        url = f"http://127.0.0.1:{httpd.server_address[1]}/call"
        lock = threading.Lock()
        todo = list(enumerate(stream))
        lat = {"op": [], "action": []}
        out = {"resp_bytes": 0, "requests": 0}

        def client() -> None:
            while True:
                with lock:
                    if not todo:
                        return
                    i, plan = todo.pop(0)
                df = None
                for step in plan:
                    kind = "action" if "Action" in step else "op" if "Op" in step else "read"
                    t0 = time.time()
                    try:
                        status, body = wire.post(url, df, step)
                    except Exception as e:  # noqa: BLE001
                        status, body = 0, {"error": f"{type(e).__name__}: {e}"}
                    dt = time.time() - t0
                    with lock:
                        run.attempted += 1
                        out["requests"] += 1
                        out["resp_bytes"] += len(json.dumps(body))
                        if kind in lat:
                            lat[kind].append(dt)
                    if status != 200:
                        run.note_failure(f"plan {i} {kind}: HTTP {status} {body.get('error', '')[:300]}")
                        break
                    df = body["dataframe"]
                    if kind == "action" and collect:
                        with lock:
                            self.outputs.append((plan, body["blocks"]))

        run.quiesce()
        c0, t0 = run.cpu(), time.time()
        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall, cpu = time.time() - t0, run.cpu() - c0
        out.update(wall=wall, cpu=cpu, plan=lat["op"], exec=lat["action"],
                   cache_hits=engine.cache.hits,
                   cache_misses=engine.cache.misses)
        engine.cache.clear()
        httpd.shutdown()
        httpd.server_close()
        server.join()
        return out

    def check(self, data_dir: str) -> int:
        import duckdb

        import wire

        con = duckdb.connect()
        for plan, blocks in self.outputs:
            err = wire.compare(plan, blocks, con)
            if err:
                self.run.note_failure(f"oracle plan {json.dumps(plan)[:300]}: {err}")
        con.close()
        return len(self.outputs)


WORKLOADS = {"llm_dedup": LlmDedup, "plan_server": PlanServer}


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def per_layer(run: Run) -> dict:
    from eventlog import read_jobs

    tr = run.tracer
    iters = set(range(len(run.iters)))
    jobs = read_jobs(run.event_dir)
    by_id = {s["id"]: s for s in tr.spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    roots = [s for s in tr.spans if s["parent"] is None and s["iter"] in iters]
    acc = {i: {} for i in iters}

    def add(i, key, v):
        acc[i][key] = acc[i].get(key, 0) + v

    covered: dict[int, list] = {}
    for job in jobs:
        group = job["group"] or ""
        span = by_id.get(int(group[5:])) if group.startswith("span-") else None
        if span is not None:
            r = root(span)
        else:  # untagged thread (e.g. a pool inside a build): the caller's span by time
            r = next((r for r in roots if r["start"] <= job["submit"] <= r["end"]), None)
        if r is None or r["iter"] not in iters:
            continue
        i = r["iter"]
        covered.setdefault(r["id"], []).append((job["submit"], job["end"] or job["submit"]))
        add(i, "sched.jobs", 1)
        add(i, "jobs.failed", int(job["failed"]))
        for key, field in (("sched.stages", "stages"), ("sched.tasks", "tasks"),
                           ("sched.delay_s", "delay_s"), ("exec.run_s", "run_s"),
                           ("exec.cpu_s", "cpu_s"), ("exec.gc_s", "gc_s"),
                           ("shuffle.write_bytes", "shuffle_write"),
                           ("shuffle.read_bytes", "shuffle_read"),
                           ("shuffle.fetch_wait_s", "fetch_wait_s"), ("spill.bytes", "spill"),
                           ("tables.scan_tasks", "scan_tasks"), ("tables.scan_bytes", "scan_bytes"),
                           ("pyworker.stage_run_s", "py_run_s"), ("pyworker.bytes_sent", "py_sent"),
                           ("pyworker.rows_returned", "py_rows"), ("tasks.failed", "failed_tasks")):
            add(i, key, job[field])
    for r in roots:
        add(r["iter"], "driver.gap_s",
            (r["end"] - r["start"]) - _union(covered.get(r["id"], []), r["start"], r["end"]))
        add(r["iter"], "roots", 1)
    for s in tr.spans:
        if s["iter"] not in iters:
            continue
        dur = s["end"] - s["start"]
        parent = by_id.get(s["parent"])
        if s["name"] == "load_sdf":
            add(s["iter"], "tables.load_s", dur)
        elif s["name"] == "PlanCache.get":
            add(s["iter"], "cache.get_s", dur)
        elif s["name"] == "Engine.blocks":
            add(s["iter"], "server.blocks_s", dur)
        elif s["name"] == "Engine.build" and not (parent and parent["name"] == "Engine.build"):
            add(s["iter"], "server.build_s", dur)
    for i, it in enumerate(run.iters):
        info = run.plan_info.get(i, {})
        add(i, "driver.plan_s", info.get("plan_s", 0.0))
        add(i, "tables.spread_exchanges", info.get("spread", 0))
        for b, v in it.get("builds", {}).items():
            add(i, f"memo.build_s.{b}", v)
        for q, (w, c) in it.get("queries", {}).items():
            add(i, f"query.{q}.wall_s", w)
            add(i, f"query.{q}.cpu_s", c)
        add(i, "memo.hits", it.get("memo_hits", 0))
        add(i, "memo.misses", it.get("memo_misses", 0))
        add(i, "cache.hits", it.get("cache_hits", 0))
        add(i, "cache.misses", it.get("cache_misses", 0))
        add(i, "server.response_bytes", it.get("resp_bytes", 0))
        add(i, "trace.wall_s", it["wall"])
        add(i, "trace.cpu_s", it["cpu"])
    for i in iters:
        a = acc[i]
        a["driver.jobs_per_query"] = a.get("sched.jobs", 0) / max(1, a.get("roots", 0))
        for name in ("memo", "cache"):
            h, m = a.get(f"{name}.hits", 0), a.get(f"{name}.misses", 0)
            a[f"{name}.hit_ratio"] = h / (h + m) if h + m else 0.0
    out = {}
    for name in PER_LAYER:
        if name == "session.start_s":
            out[name] = run.session_start_s
        elif name in ("tasks.failed", "jobs.failed"):
            out[name] = sum(acc[i].get(name, 0) for i in iters)
        else:
            out[name] = statistics.median(acc[i].get(name, 0) for i in iters)
    return out


def install_tracer(run: Run) -> None:
    """Wrap the public functions each layer is entered through."""
    from spans import Tracer

    import df_spark.plans.cache as cache_mod
    import df_spark.server as server_mod
    import df_spark.sources.tables as tables_mod
    from df_spark.queries import load_registry

    load_registry()  # import every module that binds load_sdf
    tr = Tracer(run.spark.sparkContext)
    run.tracer = tr
    orig = tables_mod.load_sdf
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("df_spark") and getattr(mod, "load_sdf", None) is orig:
            tr.wrap(mod, "load_sdf", "load_sdf")
    tr.wrap(server_mod.Engine, "build", "Engine.build")
    tr.wrap(cache_mod.PlanCache, "get", "PlanCache.get")
    blocks = server_mod.Engine.blocks

    def traced_blocks(engine, df):
        with tr.span("Engine.blocks", job_group=True):
            run.record_plan(df.to_spark())
            return blocks(engine, df)

    tr.patch(server_mod.Engine, "blocks", traced_blocks)


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def run_workload(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "df_spark")):
        print(f"perfbench: no df_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = host_env(work)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    run = Run(args, work)
    wl = WORKLOADS[args.workload](run)
    load0 = os.getloadavg()
    try:
        run.start_session()
        if run.traced:
            install_tracer(run)
        rounds, inputs = [], {}
        for r in range(SETUP_ROUNDS):
            t0 = time.time()
            data_dir = os.path.join(work, f"inputs{r}")
            os.makedirs(data_dir)
            inputs = wl.generate(data_dir)
            wl.prime(data_dir)
            rounds.append(time.time() - t0)
        # One warm-up, the cold iteration; its outputs feed the check. The
        # next iteration ran 5-25% slower than steady speed, and one such
        # among the timed iterations barely moves their median.
        t0 = time.time()
        wl.iteration(data_dir, collect=True)
        warmup_s = time.time() - t0
        setup_s = run.session_start_s + statistics.median(rounds) + warmup_s
        attempted_warm, run.attempted = run.attempted, 0

        # The correctness check (DuckDB only, no Spark jobs) runs between
        # two timed iterations halfway through and its time does not
        # count against --seconds: the timed iterations then sample the
        # shared host's drifting speed over a longer span at no extra
        # run time.
        t_run, check_s, n_checks = time.time(), 0.0, None

        def measured() -> float:
            return time.time() - t_run - check_s

        def check() -> None:
            nonlocal check_s, n_checks
            t0 = time.time()
            n_checks = wl.check(data_dir)
            check_s = time.time() - t0

        # whole iterations only; stop before one would overrun --seconds
        while len(run.iters) < MIN_ITERATIONS or (
                measured() + run.iters[-1]["wall"] <= args.seconds):
            if run.tracer:
                run.tracer.iteration = len(run.iters)
            it = wl.iteration(data_dir, collect=False)
            it["rss_mb"] = tree_peak_rss_mb()
            it["rss_mb"]["total"] = sum(it["rss_mb"].values())
            run.iters.append(it)
            if n_checks is None and measured() >= args.seconds / 2:
                check()
        if run.tracer:
            run.tracer.iteration = None
        measured_s = measured()
        if n_checks is None:
            check()
        run.attempted += n_checks
        run.stop_session()
        layers = per_layer(run) if run.traced else None
    finally:
        if run.tracer:
            run.tracer.unwrap_all()
    load1 = os.getloadavg()

    walls = [it["wall"] for it in run.iters]
    cpus = [it["cpu"] for it in run.iters]
    plan = [x for it in run.iters for x in it["plan"]]
    # per-call means per iteration: llm_dedup's calls differ in kind, so
    # a median over its few calls jumps between queries from run to run
    plan_ms = statistics.median(1000 * statistics.fmean(it["plan"]) for it in run.iters)
    exec_ms = statistics.median(1000 * statistics.fmean(it["exec"]) for it in run.iters)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
        "plan_ms": plan_ms,
        "exec_ms": exec_ms,
    }
    failed = len(run.failures)
    named = report_metrics(wl, run, e2e, walls, plan, failed)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "code": code_id(),
        "host": {**host, "loadavg_start": load0, "loadavg_end": load1},
        "inputs": inputs, "iterations": len(run.iters), "measured_s": measured_s,
        "setup": {"session_start_s": run.session_start_s, "rounds_s": rounds,
                  "warmup_s": warmup_s, "warmup_attempted": attempted_warm},
        "check_s": check_s,
        "named_metrics": named, "end_to_end": e2e, "per_layer": layers,
        "failures": run.failures,
        "iteration_walls_s": walls, "iteration_cpus_s": cpus,
        "iteration_rss_mb": [it["rss_mb"] for it in run.iters],
    }
    results = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} nproc={host['nproc']} "
          f"load={load0[0]:.2f}->{load1[0]:.2f} code={detail['code'][:16]} inputs={inputs} "
          f"iterations={len(run.iters)}")
    for name, (value, unit, note) in named.items():
        print(f"#   {name:<16} {value:>12.4f} {unit:<6} {note}")
    if layers:
        for name, value in layers.items():
            print(f"#   {name:<40} {value:>14.4f} {PER_LAYER[name]}")
    metrics = layers if run.traced else e2e
    units = PER_LAYER if run.traced else END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


def _p(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def report_metrics(wl, run: Run, e2e: dict, walls, plan, failed: int) -> dict:
    """The workload's end-to-end figures under their long names, with
    sample counts: (value, unit, note)."""
    n_ops = sum(len(it["exec"]) for it in run.iters)
    out = {
        "setup_s": (e2e["setup_s"], "s", ""),
        "wall_s": (e2e["wall_s"], "s", f"median of {len(walls)} iterations"),
        "cpu_s": (e2e["cpu_s"], "s", "process tree: JVM + Python workers"),
        # reported, not bounded: the JVM's heap growth made it bimodal
        # across runs of identical work (950-1470 MB)
        "peak_rss_mb": (max(it["rss_mb"]["total"] for it in run.iters), "MB", "process tree"),
        "failed_frac": (failed / max(1, run.attempted), "ratio", f"{failed} of {run.attempted}"),
    }
    if wl.name == "plan_server":
        plans = run.size["plans"] * len(run.iters)
        acts = [x for it in run.iters for x in it["exec"]]
        out.update({
            "plans_per_s": (plans / sum(walls), "1/s", f"{plans} plans"),
            "op_p50_ms": (1000 * statistics.median(plan), "ms", f"n={len(plan)}"),
            "action_p50_ms": (1000 * statistics.median(acts), "ms", f"n={len(acts)}"),
            "action_p90_ms": (1000 * _p(acts, 90), "ms",
                              f"n={len(acts)}" + ("" if len(acts) >= 100 else " (<10 samples above p90)")),
        })
    else:
        q = [w for it in run.iters for (w, _c) in it["queries"].values()]
        out.update({
            "query_p50_s": (statistics.median(q), "s", f"n={len(q)}"),
            "query_p90_s": (_p(q, 90), "s",
                            f"n={len(q)}" + ("" if len(q) >= 100 else " (<10 samples above p90)")),
            "exec_ms": (e2e["exec_ms"], "ms", f"mean noop-sink execution, n={n_ops}"),
        })
    return out


# ---------------------------------------------------------------------------
# every workload in one command, and the self-check
# ---------------------------------------------------------------------------


def run_all(seed: int, seconds: int, size: str, strict: bool) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems, summary = [], {}
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                   "--size", size]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(line for line in lines[:-1]), flush=True)
            if proc.returncode != 0 or not lines:
                problems.append(f"{w['name']} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            res = json.loads(lines[-1])
            summary[(w["name"], trace)] = res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w['name']} trace={trace}: metrics/units {got} != {want[trace]}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w['name']} trace={trace}: {res['failed']} failed operations")
    for w in bench["workloads"]:
        plain, traced = summary.get((w["name"], 0)), summary.get((w["name"], 1))
        if plain and traced:
            for m in ("wall", "cpu"):
                base = plain["metrics"][f"{m}_s"]["value"]
                over = traced["metrics"][f"trace.{m}_s"]["value"] - base
                print(f"# tracing overhead {w['name']} {m}_s: {over:+.3f} s "
                      f"({over / base:+.1%} of {base:.3f} s)")
    for p in problems:
        print("PROBLEM", p)
    if strict:
        print("self-check:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--self-check", action="store_true",
                    help="--all on tiny inputs for one short iteration; asserts every metric")
    args = ap.parse_args()
    if args.self_check:
        return run_all(args.seed, 1, "tiny", strict=True)
    if args.all:
        return run_all(args.seed, int(args.seconds), args.size, strict=False)
    if not args.workload:
        ap.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
