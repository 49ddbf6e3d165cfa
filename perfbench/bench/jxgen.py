"""Seeded JX requests for the `jx_service` workload, each with its SQL twin.

Every template is a JX/oracle pair from `graft.QueriesJx` (named in its
docstring) with the literals drawn from a seeded stream: date ranges,
thresholds, domain bounds and intervals, limits and key subsets. The
twin is the template's oracle SQL with the same literals and without the
oracle's rounding, because the service returns unrounded values.

A request is a dict: ``id``, ``template``, ``format``, ``json`` (the
request body) and ``sql`` (its DuckDB twin). ``requests`` is
deterministic in its arguments and never repeats a body.
"""
import datetime
import json
import random

DAY = datetime.timedelta(days=1)


def _date(rng, lo, hi):
    """A random date in [lo, hi] (datetime.date)."""
    return lo + DAY * rng.randrange((hi - lo).days + 1)


def _ts(d):
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def _f(x):
    """A float literal with the same digits in JX and SQL."""
    return float(f"{x:.2f}")


REVENUE = {"mult": ["l_extendedprice", {"sub": [1, "l_discount"]}]}
REVENUE_SQL = "l_extendedprice * (1 - l_discount)"
SHIP_LO, SHIP_HI = datetime.date(1995, 1, 2), datetime.date(2001, 10, 1)
ORDER_LO, ORDER_HI = datetime.date(1995, 1, 1), datetime.date(2001, 6, 1)


def groupby_list(rng):
    """q01_groupby_aggs: filter, group by a key subset, five aggregates."""
    keys = rng.choice([["l_returnflag"], ["l_linestatus"],
                       ["l_returnflag", "l_linestatus"]])
    d = _date(rng, datetime.date(1996, 1, 1), SHIP_HI)
    disc = _f(rng.uniform(0.0, 0.06))
    q = {"from": "lineitem",
         "where": {"and": [{"lte": ["l_shipdate", {"date": d.isoformat()}]},
                           {"gte": ["l_discount", disc]}]},
         "groupby": keys,
         "select": [
             {"name": "sum_qty", "value": "l_quantity", "aggregate": "sum"},
             {"name": "sum_base_price", "value": "l_extendedprice",
              "aggregate": "sum"},
             {"name": "sum_disc_price", "value": REVENUE, "aggregate": "sum"},
             {"name": "avg_qty", "value": "l_quantity",
              "aggregate": "average"},
             {"name": "count_order", "aggregate": "count"}],
         "sort": keys, "format": "list"}
    k = ", ".join(keys)
    sql = f"""SELECT {k}, sum(l_quantity) AS sum_qty,
        sum(l_extendedprice) AS sum_base_price,
        sum({REVENUE_SQL}) AS sum_disc_price,
        avg(l_quantity) AS avg_qty, count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= {_ts(d)} AND l_discount >= {disc}
      GROUP BY {k} ORDER BY {k}"""
    return q, sql


def filter_table(rng):
    """q02_filter_select_sort: filter, computed select, sort, limit."""
    d1 = _date(rng, SHIP_LO, datetime.date(2001, 4, 1))
    d2 = d1 + DAY * rng.randrange(20, 180)
    disc = _f(rng.uniform(0.0, 0.08))
    limit = rng.randrange(10, 200)
    q = {"from": "lineitem",
         "where": {"and": [
             {"gte": ["l_shipdate", {"date": d1.isoformat()}]},
             {"lt": ["l_shipdate", {"date": d2.isoformat()}]},
             {"gt": ["l_discount", disc]}]},
         "select": ["l_orderkey", "l_linenumber",
                    {"name": "revenue", "value": REVENUE}],
         "sort": [{"value": REVENUE, "sort": -1},
                  "l_orderkey", "l_linenumber"],
         "limit": limit, "format": "table"}
    sql = f"""SELECT l_orderkey, l_linenumber, {REVENUE_SQL} AS revenue
      FROM lineitem
      WHERE l_shipdate >= {_ts(d1)} AND l_shipdate < {_ts(d2)}
        AND l_discount > {disc}
      ORDER BY {REVENUE_SQL} DESC, l_orderkey, l_linenumber
      LIMIT {limit}"""
    return q, sql


def set_cube(rng):
    """q03_edges_set_dense: a set domain, including absent partitions."""
    parts = rng.sample(["O", "F", "P", "X", "Q"], rng.randrange(2, 6))
    d1 = _date(rng, ORDER_LO, datetime.date(2000, 1, 1))
    d2 = d1 + DAY * rng.randrange(30, 700)
    q = {"from": "orders",
         "where": {"and": [
             {"gte": ["o_orderdate", {"date": d1.isoformat()}]},
             {"lt": ["o_orderdate", {"date": d2.isoformat()}]}]},
         "edges": [{"name": "status", "value": "o_orderstatus",
                    "domain": {"type": "set", "partitions": parts}}],
         "select": [{"name": "n", "aggregate": "count"},
                    {"name": "sum_price", "value": "o_totalprice",
                     "aggregate": "sum"}],
         "format": "cube"}
    values = ", ".join(f"('{p}', {i})" for i, p in enumerate(parts))
    sql = f"""WITH d(status, ord) AS (VALUES {values}),
      s AS (SELECT o_orderstatus AS status, count(*) AS n,
                   sum(o_totalprice) AS sum_price
            FROM orders
            WHERE o_orderdate >= {_ts(d1)} AND o_orderdate < {_ts(d2)}
            GROUP BY 1)
      SELECT d.status, coalesce(s.n, 0) AS n, s.sum_price
      FROM d LEFT JOIN s USING (status) ORDER BY d.ord"""
    return q, sql


def time_cube(rng):
    """q04_edges_time / q38_edges_month: dense day, week or month buckets."""
    interval = rng.choice(["day", "week", "month"])
    if interval == "month":
        y, m = rng.randrange(1995, 2001), rng.randrange(1, 13)
        lo = datetime.date(y, m, 1)
        k = rng.randrange(2, 13)
        y2, m2 = divmod(m - 1 + k, 12)
        hi = datetime.date(y + y2, m2 + 1, 1)
        grid = f"""SELECT CAST(unnest(generate_series(DATE '{lo}',
                     DATE '{hi}' - INTERVAL 1 DAY, INTERVAL 1 MONTH))
                     AS DATE) AS b"""
        bucket = "CAST(date_trunc('month', o_orderdate) AS DATE)"
    else:
        step = 1 if interval == "day" else 7
        lo = _date(rng, ORDER_LO, datetime.date(2001, 1, 1))
        hi = lo + DAY * step * rng.randrange(2, 16)
        grid = f"""SELECT CAST(unnest(generate_series(DATE '{lo}',
                     DATE '{hi}' - INTERVAL 1 DAY, INTERVAL {step} DAY))
                     AS DATE) AS b"""
        bucket = (f"CAST(DATE '{lo}' + CAST(floor(date_diff('day', "
                  f"DATE '{lo}', o_orderdate) / {step}) AS INT) * {step} "
                  f"AS DATE)")
    q = {"from": "orders",
         "edges": [{"name": "b", "value": "o_orderdate",
                    "domain": {"type": "time", "min": lo.isoformat(),
                               "max": hi.isoformat(),
                               "interval": interval}}],
         "select": [{"name": "n", "aggregate": "count"},
                    {"name": "sum_price", "value": "o_totalprice",
                     "aggregate": "sum"}],
         "format": "cube"}
    sql = f"""WITH d AS ({grid}),
      s AS (SELECT {bucket} AS b, count(*) AS n,
                   sum(o_totalprice) AS sum_price
            FROM orders
            WHERE o_orderdate >= {_ts(lo)} AND o_orderdate < {_ts(hi)}
            GROUP BY 1)
      SELECT d.b, coalesce(s.n, 0) AS n, s.sum_price
      FROM d LEFT JOIN s USING (b) ORDER BY d.b"""
    return q, sql


def range_cube(rng):
    """q05_edges_range: dense numeric buckets [min, max) by interval."""
    interval = rng.choice([2, 5, 10])
    lo = interval * rng.randrange(0, 3)
    hi = lo + interval * rng.randrange(2, 50 // interval)
    d1 = _date(rng, SHIP_LO, datetime.date(2000, 1, 1))
    d2 = d1 + DAY * rng.randrange(30, 600)
    q = {"from": "lineitem",
         "where": {"and": [
             {"gte": ["l_shipdate", {"date": d1.isoformat()}]},
             {"lt": ["l_shipdate", {"date": d2.isoformat()}]}]},
         "edges": [{"name": "qty_bucket", "value": "l_quantity",
                    "domain": {"type": "range", "min": lo, "max": hi,
                               "interval": interval}}],
         "select": [{"name": "n", "aggregate": "count"},
                    {"name": "avg_price", "value": "l_extendedprice",
                     "aggregate": "average"}],
         "format": "cube"}
    sql = f"""WITH d AS (SELECT CAST(unnest(generate_series({lo},
                   {hi - interval}, {interval})) AS DOUBLE) AS qty_bucket),
      s AS (SELECT {lo} + floor((l_quantity - {lo}) / {interval})
                     * {interval} AS qty_bucket,
                   count(*) AS n, avg(l_extendedprice) AS avg_price
            FROM lineitem
            WHERE l_shipdate >= {_ts(d1)} AND l_shipdate < {_ts(d2)}
            GROUP BY 1)
      SELECT d.qty_bucket, coalesce(s.n, 0) AS n, s.avg_price
      FROM d LEFT JOIN s USING (qty_bucket) ORDER BY d.qty_bucket"""
    return q, sql


def default_cube(rng):
    """q06_edges_topk: a data-driven top-k default domain."""
    k = rng.randrange(3, 12)
    size = rng.randrange(10, 51)
    q = {"from": "part",
         "where": {"lte": ["p_size", size]},
         "edges": [{"name": "brand", "value": "p_brand",
                    "domain": {"type": "default", "limit": k}}],
         "select": [{"name": "n", "aggregate": "count"},
                    {"name": "sum_retail", "value": "p_retailprice",
                     "aggregate": "sum"}],
         "format": "cube"}
    sql = f"""SELECT p_brand AS brand, count(*) AS n,
             sum(p_retailprice) AS sum_retail
      FROM part WHERE p_size <= {size} GROUP BY 1
      ORDER BY count(*) DESC, p_brand LIMIT {k}"""
    return q, sql


def predicate_cube(rng):
    """q07_edges_predicate: partitions defined by arbitrary predicates."""
    t1 = rng.randrange(-900, 3000)
    t2 = t1 + rng.randrange(500, 6000)
    q = {"from": "customer",
         "edges": [{"name": "tier", "domain": {"type": "set", "partitions": [
             {"name": "low", "where": {"lt": ["c_acctbal", t1]}},
             {"name": "mid", "where": {"and": [{"gte": ["c_acctbal", t1]},
                                               {"lt": ["c_acctbal", t2]}]}},
             {"name": "high", "where": {"gte": ["c_acctbal", t2]}}]}}],
         "select": [{"name": "n", "aggregate": "count"},
                    {"name": "avg_bal", "value": "c_acctbal",
                     "aggregate": "average"}],
         "format": "cube"}
    sql = f"""WITH d(tier, ord) AS (VALUES ('low',0),('mid',1),('high',2)),
      s AS (SELECT CASE WHEN c_acctbal < {t1} THEN 'low'
                        WHEN c_acctbal < {t2} THEN 'mid'
                        ELSE 'high' END AS tier,
                   count(*) AS n, avg(c_acctbal) AS avg_bal
            FROM customer GROUP BY 1)
      SELECT d.tier, coalesce(s.n, 0) AS n, s.avg_bal
      FROM d LEFT JOIN s USING (tier) ORDER BY d.ord"""
    return q, sql


def events_cube(rng):
    """q19_events_cube: two edges, day buckets by an event-type set."""
    lo = _date(rng, datetime.date(2024, 1, 1), datetime.date(2024, 1, 20))
    days = rng.randrange(2, 10)
    hi = lo + DAY * days
    types = rng.sample(["click", "view", "purchase", "signup", "error"],
                       rng.randrange(2, 6))
    q = {"from": "events",
         "edges": [
             {"name": "day", "value": "ts",
              "domain": {"type": "time", "min": lo.isoformat(),
                         "max": hi.isoformat(), "interval": "day"}},
             {"name": "etype", "value": "event_type",
              "domain": {"type": "set", "partitions": types}}],
         "select": [{"name": "n", "aggregate": "count"},
                    {"name": "sum_value", "value": "value",
                     "aggregate": "sum"}],
         "format": "cube"}
    tl = ", ".join(f"'{t}'" for t in types)
    sql = f"""WITH d AS (SELECT CAST(unnest(generate_series(DATE '{lo}',
                   DATE '{hi}' - INTERVAL 1 DAY, INTERVAL 1 DAY)) AS DATE)
                   AS day),
      e AS (SELECT unnest([{tl}]) AS etype,
                   unnest(range({len(types)})) AS eord),
      s AS (SELECT CAST(ts AS DATE) AS day, event_type AS etype,
                   count(*) AS n, sum(value) AS sum_value
            FROM events WHERE ts >= {_ts(lo)} AND ts < {_ts(hi)}
            GROUP BY 1, 2)
      SELECT d.day, e.etype, coalesce(s.n, 0) AS n, s.sum_value
      FROM d CROSS JOIN e
      LEFT JOIN s ON s.day = d.day AND s.etype = e.etype
      ORDER BY d.day, e.eord"""
    return q, sql


def window_list(rng):
    """q08_window: running sum, lag and row number per supplier."""
    d1 = _date(rng, SHIP_LO, datetime.date(2001, 6, 1))
    d2 = d1 + DAY * rng.randrange(20, 120)
    keys = sorted(rng.sample(range(1, 1001), rng.randrange(5, 30)))
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"]
    q = {"from": "lineitem",
         "where": {"and": [
             {"gte": ["l_shipdate", {"date": d1.isoformat()}]},
             {"lt": ["l_shipdate", {"date": d2.isoformat()}]},
             {"in": {"l_suppkey": keys}}]},
         "select": ["l_suppkey", "l_orderkey", "l_linenumber",
                    "running_qty", "prev_qty", "rn"],
         "window": [
             {"name": "running_qty", "value": "l_quantity",
              "aggregate": "sum", "edges": ["l_suppkey"], "sort": order,
              "range": {"max": 0}},
             {"name": "prev_qty", "value": {"rows": ["l_quantity", -1]},
              "edges": ["l_suppkey"], "sort": order},
             {"name": "rn", "value": {"rownum": []},
              "edges": ["l_suppkey"], "sort": order}],
         "sort": ["l_suppkey", "rn"], "format": "list"}
    w = "PARTITION BY l_suppkey ORDER BY " + ", ".join(order)
    sql = f"""SELECT l_suppkey, l_orderkey, l_linenumber,
             sum(l_quantity) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS running_qty,
             lag(l_quantity) OVER ({w}) AS prev_qty,
             CAST(row_number() OVER ({w}) - 1 AS INT) AS rn
      FROM lineitem
      WHERE l_shipdate >= {_ts(d1)} AND l_shipdate < {_ts(d2)}
        AND l_suppkey IN ({", ".join(map(str, keys))})
      ORDER BY l_suppkey, rn"""
    return q, sql


def nested_list(rng):
    """q39_subquery_from: a groupby over a nested `from` query."""
    d = _date(rng, SHIP_LO, datetime.date(2001, 6, 1))
    disc = _f(rng.uniform(0.0, 0.08))
    q = {"from": {"from": "lineitem",
                  "where": {"and": [
                      {"gte": ["l_shipdate", {"date": d.isoformat()}]},
                      {"gte": ["l_discount", disc]}]},
                  "groupby": ["l_orderkey"],
                  "select": [{"name": "order_rev", "value": REVENUE,
                              "aggregate": "sum"},
                             {"name": "n_lines", "aggregate": "count"}]},
         "groupby": ["n_lines"],
         "select": [{"name": "n_orders", "aggregate": "count"},
                    {"name": "max_rev", "value": "order_rev",
                     "aggregate": "maximum"}],
         "sort": ["n_lines"], "format": "list"}
    sql = f"""WITH per_order AS (
        SELECT l_orderkey, sum({REVENUE_SQL}) AS order_rev,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= {_ts(d)} AND l_discount >= {disc}
        GROUP BY 1)
      SELECT n_lines, count(*) AS n_orders, max(order_rev) AS max_rev
      FROM per_order GROUP BY 1 ORDER BY 1"""
    return q, sql


TEMPLATES = [groupby_list, filter_table, set_cube, time_cube, range_cube,
             default_cube, predicate_cube, events_cube, window_list,
             nested_list]


def requests(seed, stream, n, exclude=()):
    """``n`` distinct requests cycling through every template in turn.

    ``stream`` names a separate literal stream (warm-up, traced, timed);
    bodies in ``exclude`` are skipped, so lists never share a request."""
    rng = random.Random(f"perfbench:{seed}:{stream}")
    seen, out = set(exclude), []
    while len(out) < n:
        t = TEMPLATES[len(out) % len(TEMPLATES)]
        q, sql = t(rng)
        body = json.dumps(q, sort_keys=True)
        if body in seen:
            continue
        seen.add(body)
        out.append({"id": f"{stream}{len(out)}", "template": t.__name__,
                    "format": q["format"], "json": body, "sql": sql})
    return out
