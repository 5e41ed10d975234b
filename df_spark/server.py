"""HTTP query server speaking the reference's wire protocol.

The reference is client/server: the Python client serializes each
operation as JSON, POSTs to ``/call``, and holds the returned plan
opaquely between calls (reference ``client.py:194-246``,
``src/api.rs:39-168``). This server implements the same protocol over
the PySpark engine, so a user of the reference's client can point it at
this engine unchanged:

- request: ``{"dataframe": <plan|null>, "function": F}`` with ``F`` one
  of ``{"Read": [format, path, schema]}``, ``{"Op": {...}}``,
  ``{"Action": "Collect" | "Count" | {"Take": n}}``.
- response: ``{"dataframe": <plan>, "blocks": {col: {"Int": [...]}}}``
  (externally-tagged block vectors like the reference's ``AnyBlock`` —
  ``src/block.rs:110-119``).
- ops: ``Select`` (ColumnExpr trees: Constant/Source/Alias/Operation),
  ``Filter`` (comparator + typed value), ``OrderBy``, ``GroupBy``,
  ``Aggregation``, ``Join`` (the right side arrives as a nested plan —
  "the whole lineage tree is the wire format").

The plan this server returns is its own opaque op list (the client
round-trips it verbatim, exactly as with the reference server). The
``Engine`` builds plans incrementally through a plan-prefix memo, the
reference pool's content addressing (``src/pool.rs:25-94``) applied to
plan steps: a step's key hashes its parent's key with the step's
canonical JSON, and a ``Read`` key also hashes the source file's
(mtime, size), so an edited file is read again instead of serving stale
rows. An ``Op`` request builds only its new step on the memoized
prefix; an ``Action`` finds its whole plan memoized, and each source is
read once per ``Engine``. The memo is an LRU of ``MEMO_CAPACITY`` lazy
plan references. Action inputs are then persisted in a ``PlanCache`` by
``Df`` fingerprint. ``Count``/``Take`` are implemented (the reference
declares them but panics — ``src/api.rs:78``).
"""

from __future__ import annotations

import json
import threading
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .expr import Aggregator, Comparator, Expr, Predicate, Value, c, v
from .frame import Df
from .plans.cache import PlanCache
from .plans.fingerprint import fingerprint_op, fingerprint_source

_TYPE_MAP = {
    "Bool": T.BooleanType(),
    "Int": T.LongType(),
    "Float": T.DoubleType(),
    "String": T.StringType(),
}

_AGG_MAP = {
    "Average": Aggregator.AVERAGE,
    "Count": Aggregator.COUNT,
    "First": Aggregator.FIRST,
    "Max": Aggregator.MAX,
    "Min": Aggregator.MIN,
    "Sum": Aggregator.SUM,
}

_CMP_MAP = {
    "Equal": Comparator.EQUAL,
    "GreaterThan": Comparator.GREATER_THAN,
    "GreaterThanOrEq": Comparator.GREATER_THAN_OR_EQ,
    "LessThan": Comparator.LESS_THAN,
    "LessThanOrEq": Comparator.LESS_THAN_OR_EQ,
}


def _parse_value(obj: Any) -> Value:
    """Reference ``Value`` serialization: ``{"Int": 5}``, ``{"Bool":
    true}``, ``{"String": "x"}``, ``{"Float": {"value": 1.5, "phantom":
    null}}`` (client.py:55-69)."""
    if not isinstance(obj, dict) or len(obj) != 1:
        raise ValueError(f"bad value: {obj!r}")
    (kind, val), = obj.items()
    if kind == "Float" and isinstance(val, dict):
        val = val["value"]
    if kind == "Int":
        val = int(val)
    return Value(val)


def _parse_expr(obj: Any) -> Expr:
    """Reference ``ColumnExpr`` serialization (client.py:119-186)."""
    (kind, args), = obj.items()
    if kind == "Source":
        return c(args)
    if kind == "Constant":
        return v(_parse_value(args).val)
    if kind == "Alias":
        name, child = args
        return _parse_expr(child).alias(name)
    if kind == "Operation":
        op, left, right = args
        le, re_ = _parse_expr(left), _parse_expr(right)
        if op == "Add":
            return le + re_
        if op == "Subtract":
            return le - re_
        if op == "Multiply":
            return le * re_
        if op == "Divide":
            return le / re_
    raise ValueError(f"bad column expr: {obj!r}")


def _parse_schema(obj: dict) -> T.StructType:
    return T.StructType(
        [T.StructField(col["name"], _TYPE_MAP[col["type_"]]) for col in obj["columns"]]
    )


#: Plan prefixes one ``Engine`` memoizes, least recently used evicted
#: first. An entry is a ``Df`` over an unexecuted Spark plan, so the
#: bound caps driver-side plan objects, not data.
MEMO_CAPACITY = 256


def _step_key(parent: str, op: dict, salt: str = "") -> str:
    return fingerprint_op(parent, json.dumps(op, sort_keys=True) + salt)


def _plan_keys(plan: list[dict]) -> list[str]:
    """Memo key of every prefix of ``plan``: each step's key hashes its
    parent's key with the step's canonical JSON. A ``Read`` starts a new
    chain from the source's (mtime, size) snapshot, so an edited file
    gets new keys; a ``Join`` also folds in the key of its right plan,
    whose own ``Read`` snapshot is not in the JSON."""
    if not plan:
        raise ValueError("empty plan")
    keys: list[str] = []
    key = ""
    for op in plan:
        (name, args), = op.items()
        if name == "Read":
            key = _step_key(fingerprint_source(args[0], args[1]), op)
        elif name == "Join":
            key = _step_key(key, op, _plan_keys(args[0])[-1])
        else:
            key = _step_key(key, op)
        keys.append(key)
    return keys


class Engine:
    """Builds wire plans into ``Df``s through a plan-prefix memo and
    runs actions on them through a ``PlanCache``.

    The memo maps the key of every plan prefix (see ``_plan_keys``) to
    its ``Df``, like the reference's content-addressed pool
    (src/pool.rs:25-94, src/dataframe.rs:181-229). ``build`` resumes
    from the longest memoized prefix, so an ``Op`` request builds and
    validates only its new step, an ``Action`` is a memo hit, and each
    source is read once per Engine until its file changes. The memo is
    an LRU of ``MEMO_CAPACITY`` lazy plan references; failed steps are
    not memoized. Only dict operations hold the lock, never Spark
    calls: a request that needs a step another request is building
    waits for that build instead of repeating it, so concurrent clients
    also read each source once. ``memo_hits`` counts plan steps served
    from the memo, ``memo_misses`` steps this Engine built.

    ``cache`` (a ``PlanCache``) persists action inputs by ``Df``
    fingerprint, so a re-submitted plan reuses the computed frame."""

    def __init__(self, spark: SparkSession, cache_capacity: int = 32) -> None:
        self.spark = spark
        self.cache = PlanCache(capacity=cache_capacity)
        self._memo: OrderedDict[str, Df] = OrderedDict()
        # steps being built, each with the event its waiters wait on
        self._running: dict[str, threading.Event] = {}
        # last (mtime, size) snapshot read of each source path
        self._snapshots: dict[str, str] = {}
        self._lock = threading.Lock()
        self.memo_hits = 0
        self.memo_misses = 0

    @property
    def memo_size(self) -> int:
        with self._lock:
            return len(self._memo)

    def build(self, plan: list[dict]) -> Df:
        keys = _plan_keys(plan)
        df: Df | None = None
        start = 0
        with self._lock:
            for i in range(len(keys) - 1, -1, -1):
                if keys[i] in self._memo:
                    df, start = self._memo[keys[i]], i + 1
                    break
            for key in keys[:start]:  # keep the lineage, its Read too, recent
                if key in self._memo:
                    self._memo.move_to_end(key)
            self.memo_hits += start
        for op, key in zip(plan[start:], keys[start:]):
            df = self._build_step(key, df, op)
        return df

    def _build_step(self, key: str, parent: Df | None, op: dict) -> Df:
        """Build one step and memoize it, or wait for the request that
        is already building it and take its result."""
        while True:
            with self._lock:
                if key in self._memo:
                    self.memo_hits += 1
                    self._memo.move_to_end(key)
                    return self._memo[key]
                running = self._running.get(key)
                if running is None:
                    running = self._running[key] = threading.Event()
                    self.memo_misses += 1
                    break
            running.wait()  # if that build fails, the next pass builds
        try:
            df = self._step(parent, op)
            with self._lock:
                self._memo[key] = df
                while len(self._memo) > MEMO_CAPACITY:
                    self._memo.popitem(last=False)
        finally:
            with self._lock:
                del self._running[key]
            running.set()
        return df

    def _step(self, df: Df | None, op: dict) -> Df:
        (name, args), = op.items()
        if name == "Read":
            return self._read(*args)
        if df is None:
            raise ValueError("plan has no Read source")
        if name == "Select":
            return df.select(*[_parse_expr(e) for e in args])
        if name == "Filter":
            col, pred = args
            return df.filter(col, Predicate(_CMP_MAP[pred["comparator"]],
                                            _parse_value(pred["value"])))
        if name == "OrderBy":
            return df.order_by(*args)
        if name == "GroupBy":
            return df.group_by(*args)
        if name == "Aggregation":
            return df.aggregate({col: _AGG_MAP[a] for col, a in args.items()})
        if name == "Join":
            right_plan, lcol, rcol = args
            return df.join(self.build(right_plan), lcol, rcol)
        raise ValueError(f"unknown op {name!r}")

    def _read(self, fmt: str, path: str, schema: dict | None) -> Df:
        if fmt not in ("csv", "parquet"):  # parquet: extension beyond the reference
            raise ValueError(f"unknown format {fmt!r}")
        snapshot = fingerprint_source(fmt, path)
        with self._lock:
            changed = self._snapshots.get(path, snapshot) != snapshot
            self._snapshots[path] = snapshot
        if changed:
            # Spark's CacheManager matches file scans by path: while the
            # PlanCache holds a persisted plan over the old file, a fresh
            # read of the edited file would be served the old rows
            self.spark.catalog.refreshByPath(path)
        if fmt == "csv":
            return Df.from_csv(self.spark, path, _parse_schema(schema))
        return Df.from_parquet(self.spark, path)

    def act(self, plan: list[dict], action: Any) -> dict[str, dict[str, list]]:
        """Run ``action`` on ``plan``. The built frame goes through the
        PlanCache: a re-submitted plan, even rebuilt from scratch by a
        new client, hits the persisted frame instead of recomputing."""
        df = self.cache.get(self.build(plan))
        if action == "Collect":
            return self.blocks(df)
        if action == "Count":
            return {"count": {"Int": [df.count()]}}
        if isinstance(action, dict) and "Take" in action:
            return self.blocks(df.limit(int(action["Take"])))
        raise ValueError(f"unknown action {action!r}")

    def blocks(self, df: Df) -> dict[str, dict[str, list]]:
        """Columnar result in the reference's externally-tagged AnyBlock
        form (src/block.rs:110-119)."""
        sdf = df.to_spark()  # resolves a pending group_by once
        rows = sdf.collect()
        return {
            field.name: {_block_tag(field.dataType): [r[i] for r in rows]}
            for i, field in enumerate(sdf.schema.fields)
        }


def _block_tag(dt: T.DataType) -> str:
    if isinstance(dt, T.ArrayType):
        return _block_tag(dt.elementType) + "List"
    if isinstance(dt, T.BooleanType):
        return "Bool"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType)):
        return "Int"
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return "Float"
    return "String"


def make_handler(engine: Engine):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # noqa: D102 — quiet server
            pass

        def do_GET(self):  # noqa: N802 — http.server API
            """Pool introspection (reference ``pool.size()`` /
            ``print_indices`` — src/pool.rs:49-51)."""
            if self.path != "/pool":
                self.send_error(404)
                return
            payload = json.dumps(
                {
                    "size": len(engine.cache),
                    "hits": engine.cache.hits,
                    "misses": engine.cache.misses,
                    "memo_size": engine.memo_size,
                    "memo_hits": engine.memo_hits,
                    "memo_misses": engine.memo_misses,
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(payload)

        def do_POST(self):  # noqa: N802 — http.server API
            if self.path != "/call":
                self.send_error(404)
                return
            try:
                length = int(self.headers["Content-Length"])
                body = json.loads(self.rfile.read(length))
                plan = body.get("dataframe") or []
                fn = body["function"]
                blocks: dict = {}
                if "Read" in fn:
                    plan = [{"Read": fn["Read"]}]
                elif "Op" in fn:
                    plan = plan + [fn["Op"]]
                    engine.build(plan)  # eager validation: a bad op is a 400
                elif "Action" in fn:
                    blocks = engine.act(plan, fn["Action"])
                else:
                    raise ValueError(f"unknown function {fn!r}")
                payload = json.dumps({"dataframe": plan, "blocks": blocks})
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(payload.encode())
            except Exception as e:  # noqa: BLE001 — wire boundary
                msg = json.dumps({"error": str(e)}).encode()
                self.send_response(400)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(msg)

    return Handler


def start_server(spark: SparkSession, port: int = 3000) -> ThreadingHTTPServer:
    """Start the server on a daemon thread; returns the server object
    (call ``.shutdown()`` to stop)."""
    engine = Engine(spark)
    httpd = ThreadingHTTPServer(("127.0.0.1", port), make_handler(engine))
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    return httpd
