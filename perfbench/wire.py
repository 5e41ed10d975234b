"""The ``plan_server`` traffic: seeded wire plans in the reference
client's protocol, a closed-loop HTTP client, and a DuckDB translation
of each plan for the correctness check.

A plan is the list of ``function`` payloads one client sends for it:
``Read`` (parquet), ``Op``s, then one ``Action``. The server answers
each request with the opaque plan the client sends back next.
"""

from __future__ import annotations

import json
import math
import random
import urllib.error
import urllib.request

# filter candidates on lineitem: (column, comparator, wire value maker)
_LI_FILTERS = [
    ("l_quantity", "LessThan", lambda r: {"Float": {"value": float(r.randint(10, 50)), "phantom": None}}),
    ("l_discount", "LessThanOrEq", lambda r: {"Float": {"value": r.randint(2, 10) / 100.0, "phantom": None}}),
    ("l_shipdate", "GreaterThan", lambda r: {"String": f"{r.randint(1995, 2000)}-{r.randint(1, 12):02d}-01"}),
    ("l_returnflag", "Equal", lambda r: {"String": r.choice("ANR")}),
    ("l_linenumber", "GreaterThanOrEq", lambda r: {"Int": r.randint(1, 4)}),
]
_LI_KEYS = [["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"], ["l_suppkey"]]
_AGGS = ["Sum", "Average", "Min", "Max", "Count"]


def _src(name: str) -> dict:
    return {"Source": name}


def _const(x: float) -> dict:
    return {"Constant": {"Float": {"value": x, "phantom": None}}}


def _measures(slot: int) -> list[dict]:
    """Two or three measure columns, computed ones aliased."""
    out = [
        {"Alias": ["disc_price", {"Operation": [
            "Multiply", _src("l_extendedprice"),
            {"Operation": ["Subtract", _const(1.0), _src("l_discount")]}]}]},
        {"Alias": ["qty", _src("l_quantity")]},
    ]
    if slot % 2:
        out.append({"Alias": ["taxed", {"Operation": [
            "Multiply", _src("l_extendedprice"),
            {"Operation": ["Add", _const(1.0), _src("l_tax")]}]}]})
    return out


def make_plan(rng: random.Random, data_dir: str, slot: int, join: bool, action: object) -> list[dict]:
    """One plan. ``slot`` fixes its shape (filter column, group keys,
    number of measures); ``rng`` draws its constants and aggregators."""
    li = {"Read": ["parquet", f"{data_dir}/lineitem.parquet", None]}
    col, cmp_, val = _LI_FILTERS[slot % len(_LI_FILTERS)]
    ops: list[dict] = [{"Filter": [col, {"comparator": cmp_, "value": val(rng)}]}]
    if join:
        right = [
            {"Read": ["parquet", f"{data_dir}/orders.parquet", None]},
            {"Filter": ["o_totalprice", {"comparator": "GreaterThan", "value": {
                "Float": {"value": float(rng.randint(1, 4) * 100000), "phantom": None}}}]},
        ]
        ops.append({"Join": [right, "l_orderkey", "o_orderkey"]})
        keys = [rng.choice(["o_orderpriority", "o_orderstatus"])]
    else:
        keys = _LI_KEYS[slot % len(_LI_KEYS)]
    measures = _measures(slot)
    ops.append({"Select": [_src(k) for k in keys] + measures})
    ops.append({"GroupBy": keys})
    ops.append({"Aggregation": {m["Alias"][0]: rng.choice(_AGGS) for m in measures}})
    if action == "Take":  # ordered, so the first n rows are defined
        ops.append({"OrderBy": keys})
        action = {"Take": rng.randint(2, 5)}
    return [li] + [{"Op": op} for op in ops] + [{"Action": action}]


_ACTIONS = ["Collect", "Collect", "Count", "Take"]


def make_stream(seed: int, data_dir: str, n_plans: int, join_share: float,
                repeat_share: float) -> list[list[dict]]:
    """``n_plans`` plans in the order clients take them. A
    ``repeat_share`` of them re-submit an earlier plan of the stream,
    which is what the server's content-addressed cache serves.

    How many plans join, which actions and which plan shapes appear is
    fixed by the counts, so every seed asks for about the same work;
    the seed decides which plans get them, the constants, the
    aggregators and where the repeats fall."""
    rng = random.Random(seed)
    n_repeat = int(round(n_plans * repeat_share))
    n_fresh = n_plans - n_repeat
    n_join = int(round(n_fresh * join_share))
    slots = list(range(n_fresh))
    rng.shuffle(slots)
    fresh = [make_plan(rng, data_dir, slot, slot < n_join, _ACTIONS[slot % len(_ACTIONS)])
             for slot in slots]
    stream = list(fresh)
    for k in range(n_repeat):
        src = fresh[k % n_fresh]  # insert each repeat after its original
        pos = rng.randint(stream.index(src) + 1, len(stream))
        stream.insert(pos, src)
    return stream


def post(url: str, dataframe: object, function: object) -> tuple[int, dict]:
    body = json.dumps({"dataframe": dataframe, "function": function}).encode()
    req = urllib.request.Request(url, data=body, headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


# ---------------------------------------------------------------------------
# DuckDB translation (correctness oracle)
# ---------------------------------------------------------------------------

_CMP_SQL = {"Equal": "=", "GreaterThan": ">", "GreaterThanOrEq": ">=",
            "LessThan": "<", "LessThanOrEq": "<="}
_AGG_SQL = {"Sum": "sum", "Average": "avg", "Min": "min", "Max": "max", "Count": "count"}
_OP_SQL = {"Add": "+", "Subtract": "-", "Multiply": "*"}


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(val: dict) -> str:
    (kind, x), = val.items()
    if kind == "Float":
        return repr(float(x["value"] if isinstance(x, dict) else x))
    if kind == "String":
        return "'" + x.replace("'", "''") + "'"
    return str(int(x))


def _expr_sql(e: dict) -> tuple[str, str | None]:
    (kind, args), = e.items()
    if kind == "Source":
        return _q(args), args
    if kind == "Constant":
        return _lit(args), None
    if kind == "Alias":
        name, child = args
        return _expr_sql(child)[0], name
    op, left, right = args
    return f"({_expr_sql(left)[0]} {_OP_SQL[op]} {_expr_sql(right)[0]})", None


def plan_sql(ops: list[dict]) -> str:
    """DuckDB SQL for a plan's ops (the ``Read`` first, no ``Action``),
    with the engine's output column order."""
    sql, cols, keys = "", [], None
    for op in ops:
        (name, args), = op.items()
        if name == "Read":
            sql = f"SELECT * FROM read_parquet('{args[1]}')"
        elif name == "Filter":
            col, pred = args
            sql = (f"SELECT * FROM ({sql}) WHERE {_q(col)} "
                   f"{_CMP_SQL[pred['comparator']]} {_lit(pred['value'])}")
        elif name == "Join":
            right, lcol, rcol = args
            sql = (f"SELECT * FROM ({sql}) a JOIN ({plan_sql(right)}) b "
                   f"ON a.{_q(lcol)} = b.{_q(rcol)}")
        elif name == "Select":
            parts = [_expr_sql(e) for e in args]
            cols = [alias for _, alias in parts]
            sql = "SELECT " + ", ".join(f"{s} AS {_q(a)}" for s, a in parts) + f" FROM ({sql})"
        elif name == "GroupBy":
            keys = list(args)
        elif name == "Aggregation":
            sel = [_q(c) if c in keys else f"{_AGG_SQL[args[c]]}({_q(c)}) AS {_q(c)}" for c in cols]
            sql = f"SELECT {', '.join(sel)} FROM ({sql}) GROUP BY {', '.join(_q(k) for k in keys)}"
            keys = None
        elif name == "OrderBy":
            sql = f"SELECT * FROM ({sql}) ORDER BY {', '.join(_q(c) + ' NULLS FIRST' for c in args)}"
        else:
            raise ValueError(f"no SQL for op {name!r}")
    return sql


def oracle_blocks(con, plan: list[dict]) -> tuple[list[str], list[tuple]]:
    """Expected (columns, rows) of a whole plan, its Action included."""
    ops = [plan[0]] + [p["Op"] for p in plan[1:-1]]
    sql = plan_sql(ops)
    action = plan[-1]["Action"]
    if action == "Count":
        return ["count"], [con.execute(f"SELECT count(*) FROM ({sql})").fetchone()]
    if isinstance(action, dict):
        sql += f" LIMIT {int(action['Take'])}"
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(plan: list[dict], blocks: dict, con) -> str | None:
    """None when the server's blocks equal DuckDB's answer for the plan;
    else a one-line description of the first difference. Unordered
    results compare as multisets; floats to 1e-9 relative, because the
    engine sums doubles in a different order than DuckDB."""
    cols, rows = oracle_blocks(con, plan)
    got_cols = list(blocks)
    if got_cols != cols:
        return f"columns {got_cols} != {cols}"
    got = list(zip(*[next(iter(blocks[c].values())) for c in cols])) if cols else []
    if len(got) != len(rows):
        return f"{len(got)} rows != {len(rows)}"
    ordered = isinstance(plan[-1]["Action"], dict)
    if not ordered:
        key = lambda r: tuple((x is None, round(x, 6) if isinstance(x, float) else x) for x in r)  # noqa: E731
        got, rows = sorted(got, key=key), sorted(rows, key=key)
    for g, w in zip(got, rows):
        if not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g} != {w}"
    return None
