"""Wire-protocol server tests: requests are built exactly the way the
reference's Python client serializes them (client.py:135-246), so
passing here means the reference client works against this engine."""

from __future__ import annotations

import json
import sys
import threading
import urllib.request

import pytest

from df_spark.frame import Df
from df_spark.server import Engine, start_server

PORT = 3917
URI = f"http://127.0.0.1:{PORT}/call"


def call(dataframe, function):
    body = json.dumps({"dataframe": dataframe, "function": function}).encode()
    req = urllib.request.Request(URI, data=body, headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    httpd = start_server(spark, port=PORT)
    yield httpd
    httpd.shutdown()


@pytest.fixture(scope="module")
def small_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("data") / "small.csv"
    p.write_text("1|foo|true\n2|bar|false\n3|baz|true\n")
    return str(p)


SMALL_SCHEMA = {"columns": [
    {"name": "int", "type_": "Int"},
    {"name": "string", "type_": "String"},
    {"name": "bool", "type_": "Bool"},
]}


def test_example_small_flow(server, small_csv):
    # the reference client's example_small (client.py:248-256), request
    # by request: read → filter → select → aggregate → collect
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    r = call(r["dataframe"], {"Op": {"Filter": ["bool", {
        "comparator": "Equal", "value": {"Bool": True}}]}})
    r = call(r["dataframe"], {"Op": {"Select": [{"Source": "int"}]}})
    r = call(r["dataframe"], {"Op": {"Aggregation": {"int": "Average"}}})
    r = call(r["dataframe"], {"Action": "Collect"})
    assert r["blocks"] == {"int": {"Float": [2.0]}}


def test_expression_ops_on_wire(server, small_csv):
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    # (int + 1) * 2 aliased, exactly as client.py serializes operator
    # overloads (client.py:141-186)
    expr = {"Alias": ["x", {"Operation": ["Multiply",
            {"Operation": ["Add", {"Source": "int"}, {"Constant": {"Int": 1}}]},
            {"Constant": {"Int": 2}}]}]}
    r = call(r["dataframe"], {"Op": {"Select": [expr, {"Source": "string"}]}})
    r = call(r["dataframe"], {"Action": "Collect"})
    assert r["blocks"]["x"] == {"Int": [4, 6, 8]}


def test_join_nested_plan(server, small_csv):
    left = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})["dataframe"]
    right = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})["dataframe"]
    right = call(right, {"Op": {"Select": [
        {"Alias": ["r_int", {"Source": "int"}]},
        {"Alias": ["r_string", {"Source": "string"}]}]}})["dataframe"]
    r = call(left, {"Op": {"Join": [right, "int", "r_int"]}})
    r = call(r["dataframe"], {"Action": "Collect"})
    assert r["blocks"]["int"]["Int"] == r["blocks"]["r_int"]["Int"]
    assert sorted(r["blocks"]["string"]["String"]) == ["bar", "baz", "foo"]


def test_group_by_lists_on_wire(server, small_csv):
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    r = call(r["dataframe"], {"Op": {"GroupBy": ["bool"]}})
    r = call(r["dataframe"], {"Action": "Collect"})
    # non-key columns become List blocks (reference grouped frame)
    assert "IntList" in r["blocks"]["int"]
    by_bool = dict(zip(r["blocks"]["bool"]["Bool"], r["blocks"]["int"]["IntList"]))
    assert sorted(by_bool[True]) == [1, 3]
    assert by_bool[False] == [2]


def test_count_and_take_implemented(server, small_csv):
    # the reference declares these but panics (src/api.rs:78)
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    assert call(r["dataframe"], {"Action": "Count"})["blocks"] == {"count": {"Int": [3]}}
    taken = call(r["dataframe"], {"Action": {"Take": 2}})
    assert len(taken["blocks"]["int"]["Int"]) == 2


def test_wire_errors_are_400(server, small_csv):
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    with pytest.raises(urllib.error.HTTPError) as exc:
        call(r["dataframe"], {"Op": {"Select": [{"Source": "nope"}]}})
    assert exc.value.code == 400
    body = json.loads(exc.value.read())
    assert "unknown column" in body["error"]


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/reference/client.py"),
    reason="reference checkout not present")
def test_reference_client_runs_unchanged(server, small_csv):
    # load the reference's own client (read-only checkout) and point it
    # at this server: its example flow must work verbatim
    import importlib.util

    pytest.importorskip("requests")
    spec = importlib.util.spec_from_file_location("ref_client", "/root/reference/client.py")
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    ref.URI = URI
    schema = ref.Schema([("int", ref.Type.INT), ("string", ref.Type.STRING),
                         ("bool", ref.Type.BOOL)])
    out = (ref.Df.from_csv(small_csv, schema)
           .filter("bool", ref.Predicate(ref.Comparator.EQUAL, ref.Value(True)))
           .select([ref.c("int")])
           .aggregate({"int": ref.Aggregator.AVERAGE})
           .collect())
    assert out == {"int": {"Float": [2.0]}}


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/reference/client.py"),
    reason="reference checkout not present")
def test_reference_client_q1_pipeline(server, spark, tmp_path_factory):
    """The reference client's hand-built TPC-H Q1 (client.py:259-331)
    through the wire — filter on string dates, Float-constant arithmetic,
    group_by → order_by → aggregate over the grouped (List) frame —
    checked against the same computation done natively in Spark."""
    import importlib.util

    pytest.importorskip("requests")
    from pyspark.sql import functions as F

    # export sf0.001 lineitem in the reference's 16-column '|' CSV shape
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    csv_df = li.select(
        F.col("l_orderkey"), F.col("l_partkey"), F.col("l_suppkey"),
        F.col("l_linenumber"),
        F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount"),
        F.col("l_tax"), F.col("l_returnflag"), F.col("l_linestatus"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        F.lit("1995-01-01").alias("commit_date"),
        F.lit("1995-01-08").alias("receipt_date"),
        F.lit("NONE").alias("ship_instructions"),
        F.lit("MAIL").alias("ship_mode"),
        F.lit("no comment").alias("comment"),
    )
    out_dir = tmp_path_factory.mktemp("li_csv")
    csv_df.coalesce(1).write.mode("overwrite").option("delimiter", "|").csv(str(out_dir / "li"))

    spec = importlib.util.spec_from_file_location("ref_client2", "/root/reference/client.py")
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    ref.URI = URI
    schema = ref.Schema([
        ("order_key", ref.Type.INT), ("part_key", ref.Type.INT),
        ("supplier_key", ref.Type.INT), ("line_number", ref.Type.INT),
        ("quantity", ref.Type.FLOAT), ("extended_price", ref.Type.FLOAT),
        ("discount", ref.Type.FLOAT), ("tax", ref.Type.FLOAT),
        ("return_flag", ref.Type.STRING), ("line_status", ref.Type.STRING),
        ("ship_date", ref.Type.STRING), ("commit_date", ref.Type.STRING),
        ("receipt_date", ref.Type.STRING), ("ship_instructions", ref.Type.STRING),
        ("ship_mode", ref.Type.STRING), ("comment", ref.Type.STRING)])
    c, Value = ref.c, ref.Value
    blocks = (ref.Df.from_csv(str(out_dir / "li"), schema)
        .filter("ship_date", ref.Predicate(ref.Comparator.LESS_THAN_OR_EQ, Value("1998-09-02")))
        .select([
            c("return_flag"), c("line_status"),
            c("quantity").alias("sum_qty"),
            c("extended_price").alias("sum_base_price"),
            ((c(Value(1.0)) - c("discount")) * c("extended_price")).alias("sum_disc_price"),
            (((c(Value(1.0)) + c("tax")) * (c(Value(1.0)) - c("discount"))) * c("extended_price")).alias("sum_charge"),
            c("quantity").alias("avg_quantity"),
            c("extended_price").alias("avg_price"),
            c("discount").alias("avg_discount"),
            c("order_key").alias("count_order")])
        .group_by(["return_flag", "line_status"])
        .order_by(["return_flag", "line_status"])
        .aggregate({"sum_qty": ref.Aggregator.SUM,
                    "sum_base_price": ref.Aggregator.SUM,
                    "sum_disc_price": ref.Aggregator.SUM,
                    "sum_charge": ref.Aggregator.SUM,
                    "avg_quantity": ref.Aggregator.AVERAGE,
                    "avg_price": ref.Aggregator.AVERAGE,
                    "avg_discount": ref.Aggregator.AVERAGE,
                    "count_order": ref.Aggregator.COUNT})
        .collect())

    # expected, computed natively on the exported CSV rows
    exp = (li.filter(F.date_format("l_shipdate", "yyyy-MM-dd") <= "1998-09-02")
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum("l_quantity").alias("sq"), F.count(F.lit(1)).alias("n"))
           .orderBy("l_returnflag", "l_linestatus").collect())
    assert blocks["return_flag"]["String"] == [r.l_returnflag for r in exp]
    assert blocks["line_status"]["String"] == [r.l_linestatus for r in exp]
    assert blocks["count_order"]["Int"] == [r.n for r in exp]
    for got, want in zip(blocks["sum_qty"]["Float"], [r.sq for r in exp]):
        assert abs(got - want) < 1e-6


def test_pool_memoization_and_introspection(server, small_csv):
    """Re-submitted plans hit the content-addressed pool (reference
    Pool, src/pool.rs:25-94) and /pool reports its state
    (pool.size() / print_indices, src/pool.rs:49-51)."""
    def pool():
        with urllib.request.urlopen(f"http://127.0.0.1:{PORT}/pool") as resp:
            return json.loads(resp.read())

    before = pool()
    plan = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})["dataframe"]
    plan = call(plan, {"Op": {"Select": [{"Source": "int"}]}})["dataframe"]
    first = call(plan, {"Action": "Collect"})
    mid = pool()
    second = call(plan, {"Action": "Collect"})  # identical plan, new request
    assert first["blocks"] == second["blocks"] == {"int": {"Int": [1, 2, 3]}}
    after = pool()
    assert after["size"] >= 1
    assert after["hits"] >= before["hits"] + 1  # second run reused the frame
    # the re-submitted plan is rebuilt from the build memo: every step
    # a hit, none built again
    assert after["memo_hits"] == mid["memo_hits"] + len(plan)
    assert after["memo_misses"] == mid["memo_misses"]
    assert after["memo_size"] >= len(plan)


# ---------------------------------------------------------------------------
# plan-prefix memo
# ---------------------------------------------------------------------------


def _requests(engine, plan):
    """Build ``plan`` (Read, Ops, Action) the way its wire requests do:
    every Op request builds its prefix, then the Action runs."""
    for i in range(2, len(plan)):
        engine.build(plan[:i])
    return engine.act(plan[:-1], plan[-1]["Action"])


def _count_reads(monkeypatch):
    reads = []
    for name in ("from_csv", "from_parquet"):
        orig = getattr(Df, name)

        def counted(spark, path, *args, _orig=orig, **kwargs):
            reads.append(path)
            return _orig(spark, path, *args, **kwargs)

        monkeypatch.setattr(Df, name, staticmethod(counted))
    return reads


def test_memo_reads_each_source_once(spark, sf_dir, small_csv, monkeypatch):
    reads = _count_reads(monkeypatch)
    engine = Engine(spark)
    csv = {"Read": ["csv", small_csv, SMALL_SCHEMA]}
    orders = {"Read": ["parquet", f"{sf_dir}/orders.parquet", None]}
    small = [csv, {"Filter": ["bool", {"comparator": "Equal", "value": {"Bool": True}}]},
             {"Select": [{"Source": "int"}]}, {"Action": "Collect"}]
    other = [csv, {"Select": [{"Alias": ["r_int", {"Source": "int"}]}]}]
    joined = [csv, {"Join": [other, "int", "r_int"]}, {"Action": "Count"}]
    big = [orders, {"Filter": ["o_totalprice", {"comparator": "GreaterThan",
                                                "value": {"Float": {"value": 1e5, "phantom": None}}}]},
           {"Join": [[orders, {"Select": [{"Alias": ["k", {"Source": "o_orderkey"}]}]}],
                     "o_orderkey", "k"]},
           {"Action": "Count"}]
    try:
        for plan in (small, small, joined, big, joined, big):
            _requests(engine, plan)
        assert sorted(reads) == sorted([small_csv, f"{sf_dir}/orders.parquet"])
        assert engine.memo_hits > engine.memo_misses
    finally:
        engine.cache.clear()


def test_memo_concurrent_builds_share_steps(spark, sf_dir, small_csv, monkeypatch):
    # more threads than cores race on the same prefixes: each step is
    # built once, waiters take the builder's frame, each source is read once
    reads = _count_reads(monkeypatch)
    engine = Engine(spark)
    csv = {"Read": ["csv", small_csv, SMALL_SCHEMA]}
    orders = {"Read": ["parquet", f"{sf_dir}/orders.parquet", None]}
    plans = [
        [csv, {"Filter": ["int", {"comparator": "GreaterThan", "value": {"Int": k}}]},
         {"Select": [{"Source": "int"}, {"Source": "string"}]}]
        for k in range(3)
    ] + [
        [orders, {"Join": [[csv, {"Select": [{"Alias": ["r_int", {"Source": "int"}]}]}],
                           "o_orderkey", "r_int"]}],
    ]
    built: list[dict] = [{} for _ in range(8)]
    errors: list[Exception] = []

    def worker(out):
        try:
            for plan in plans + plans[::-1]:
                out[json.dumps(plan)] = engine.build(plan)
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(out,)) for out in built]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert sorted(reads) == sorted([small_csv, f"{sf_dir}/orders.parquet"])
    assert engine.memo_misses == engine.memo_size
    for plan in map(json.dumps, plans):
        assert len({id(out[plan]) for out in built}) == 1


def test_memo_rereads_edited_source(server, small_csv, tmp_path):
    # each plan's frame is persisted by its first action, so the edited
    # file must be read again and not be served from any cached copy;
    # the join's JSON names the edited file only inside its right plan
    path = tmp_path / "edited.csv"
    read = {"Read": ["csv", str(path), SMALL_SCHEMA]}
    op = {"Op": {"Select": [{"Source": "int"}]}}
    right = [read, {"Select": [{"Alias": ["r_int", {"Source": "int"}]}]}]
    join = {"Op": {"Join": [right, "int", "r_int"]}}
    for text, ints in [("1|foo|true\n2|bar|false\n", [1, 2]),
                       ("1|foo|true\n2|bar|false\n3|baz|true\n", [1, 2, 3])]:
        path.write_text(text)
        plan = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})["dataframe"]
        plan = call(plan, join)["dataframe"]
        assert call(plan, {"Action": "Count"})["blocks"] == {"count": {"Int": [len(ints)]}}
        plan = call(call(None, read)["dataframe"], op)["dataframe"]
        assert call(plan, {"Action": "Collect"})["blocks"] == {"int": {"Int": ints}}


def test_bad_op_on_memoized_prefix(server, spark, small_csv):
    r = call(None, {"Read": ["csv", small_csv, SMALL_SCHEMA]})
    prefix = call(r["dataframe"], {"Op": {"Filter": ["bool", {
        "comparator": "Equal", "value": {"Bool": True}}]}})["dataframe"]
    with pytest.raises(urllib.error.HTTPError) as exc:
        call(prefix, {"Op": {"Select": [{"Source": "nope"}]}})
    assert exc.value.code == 400
    r = call(prefix, {"Op": {"Select": [{"Source": "string"}]}})
    assert call(r["dataframe"], {"Action": "Collect"})["blocks"] == {
        "string": {"String": ["foo", "baz"]}}
    # a failed step is not memoized
    engine = Engine(spark)
    plan = [prefix[0], {"Select": [{"Source": "nope"}]}]
    with pytest.raises(Exception, match="unknown column"):
        engine.build(plan)
    assert engine.memo_size == 1
    with pytest.raises(Exception, match="unknown column"):
        engine.build(plan)


def _stream(sf_dir):
    """Wire plans over lineitem/orders in the benchmark client's shape:
    Read -> Filter -> [Join] -> Select -> GroupBy -> Aggregation ->
    [OrderBy] -> Action, sharing prefixes and repeating plans."""
    def flt(col, cmp_, val):
        return {"Filter": [col, {"comparator": cmp_, "value": val}]}

    def f(x):
        return {"Float": {"value": x, "phantom": None}}

    li = {"Read": ["parquet", f"{sf_dir}/lineitem.parquet", None]}
    orders = [{"Read": ["parquet", f"{sf_dir}/orders.parquet", None]},
              flt("o_totalprice", "GreaterThan", f(100000.0))]
    measures = [
        {"Alias": ["disc_price", {"Operation": ["Multiply", {"Source": "l_extendedprice"},
            {"Operation": ["Subtract", {"Constant": f(1.0)}, {"Source": "l_discount"}]}]}]},
        {"Alias": ["qty", {"Source": "l_quantity"}]},
    ]

    def tail(keys, aggs, action):
        ops = [{"Select": [{"Source": k} for k in keys] + measures},
               {"GroupBy": keys},
               {"Aggregation": {"disc_price": aggs[0], "qty": aggs[1]}}]
        if action == "Take":
            return ops + [{"OrderBy": keys}, {"Action": {"Take": 3}}]
        return ops + [{"Action": action}]

    q_lt_30 = flt("l_quantity", "LessThan", f(30.0))
    plans = [
        [li, q_lt_30] + tail(["l_returnflag"], ["Sum", "Average"], "Collect"),
        [li, q_lt_30] + tail(["l_returnflag", "l_linestatus"], ["Max", "Count"], "Take"),
        [li, flt("l_returnflag", "Equal", {"String": "R"})]
        + tail(["l_linestatus"], ["Min", "Sum"], "Count"),
        [li, flt("l_linenumber", "GreaterThanOrEq", {"Int": 3}),
         {"Join": [orders, "l_orderkey", "o_orderkey"]}]
        + tail(["o_orderpriority"], ["Sum", "Average"], "Collect"),
        [li, q_lt_30, {"Join": [orders, "l_orderkey", "o_orderkey"]}]
        + tail(["o_orderstatus"], ["Count", "Max"], "Take"),
    ]
    return plans + plans[::2]


def _rows(blocks):
    cols = sorted(blocks)
    vals = [next(iter(blocks[c].values())) for c in cols]
    return cols, sorted(zip(*vals), key=repr)


def test_memoized_engine_matches_fresh_engines(spark, sf_dir):
    memo = Engine(spark)
    fresh = []
    try:
        for plan in _stream(sf_dir):
            got = _requests(memo, plan)
            fresh.append(Engine(spark))
            want = fresh[-1].act(plan[:-1], plan[-1]["Action"])
            assert _rows(got) == _rows(want), plan
        assert memo.memo_hits > 0
    finally:
        for engine in [memo] + fresh:
            engine.cache.clear()
