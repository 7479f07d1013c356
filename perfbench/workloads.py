"""Request schedules of the benchmark's workloads, made from the seed.

A schedule is the batch the streaming maintainers fold at set-up (empty
where a workload has none) and a list of rounds. A round is the unit the harness times as a
whole: a dashboard refresh (a micro-batch appended through the streaming
maintainers, then every panel at once) or a pass over the analyst's request
mix. Each request carries the DuckDB query that computes its exact answer
(or, for a live panel, the generator's running state computes it) and the
tolerance its serve path declares, so the checks need nothing from the
engine but its response.
"""
import json
import random

import numpy as np

HDR_REL = 1 / 32                # m = 32 sub-buckets per binade

# DuckDB renderings that reproduce the engine's exact arithmetic: sums go
# through decimal(18,4) and back to double, averages divide that sum once.
def dsum(c):
    return f"cast(sum(cast({c} as decimal(18,4))) as double)"


def davg(c):
    return f"{dsum(c)} / count({c})"


# Dashboard panels over sf0.1 lineitem/orders/supplier. Each is
# (id, engine SQL, DuckDB truth SQL, key columns, tolerance per column,
#  literal pools). Tolerances: "exact"; ("abs", col) reads the allowance
# from a truth column; ("rel", x) is relative; "declared" is the bound the
# engine reports (estimated_error, relative). Unlisted columns are exact.
PANELS = [
    ("stats",
     "SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx, "
     "sum(l_extendedprice) AS sm, avg(l_extendedprice) AS av, "
     "count(l_extendedprice) AS nv FROM lineitem",
     f"SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx, "
     f"{dsum('l_extendedprice')} AS sm, {davg('l_extendedprice')} AS av, "
     f"count(l_extendedprice) AS nv FROM lineitem",
     [], {}, {}),
    ("percentile_group",
     "SELECT l_returnflag, percentile(l_extendedprice, {p}) AS pv "
     "FROM lineitem GROUP BY l_returnflag",
     "SELECT l_returnflag, quantile_cont(l_extendedprice, {p}) AS pv, "
     "(max(l_extendedprice) - min(l_extendedprice)) / 64 AS pv__tol "
     "FROM lineitem GROUP BY l_returnflag",
     ["l_returnflag"], {"pv": ("abs", "pv__tol")},
     {"p": ["0.25", "0.5", "0.75", "0.9"]}),
    ("filtered_group",
     "SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx, "
     "sum(l_extendedprice) AS sm, count(*) AS nr, "
     "percentile(l_extendedprice, 0.5) AS p50 FROM lineitem "
     "WHERE l_returnflag = '{f}'",
     f"SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx, "
     f"{dsum('l_extendedprice')} AS sm, count(*) AS nr, "
     f"quantile_cont(l_extendedprice, 0.5) AS p50, "
     f"(max(l_extendedprice) - min(l_extendedprice)) / 64 AS p50__tol "
     f"FROM lineitem WHERE l_returnflag = '{{f}}'",
     [], {"p50": ("abs", "p50__tol")}, {"f": ["A", "N", "R"]}),
    ("composite_group",
     "SELECT l_returnflag, l_linestatus, min(l_quantity) AS mn, "
     "max(l_quantity) AS mx, sum(l_quantity) AS sm, count(*) AS nr "
     "FROM lineitem GROUP BY l_returnflag, l_linestatus",
     f"SELECT l_returnflag, l_linestatus, min(l_quantity) AS mn, "
     f"max(l_quantity) AS mx, {dsum('l_quantity')} AS sm, count(*) AS nr "
     f"FROM lineitem GROUP BY l_returnflag, l_linestatus",
     ["l_returnflag", "l_linestatus"], {}, {}),
    ("range_group",
     "SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s "
     "FROM lineitem WHERE l_extendedprice >= {x} GROUP BY l_returnflag",
     f"SELECT l_returnflag, count(*) AS n, {dsum('l_extendedprice')} AS s "
     f"FROM lineitem WHERE l_extendedprice >= {{x}} GROUP BY l_returnflag",
     ["l_returnflag"], {"n": "declared", "s": "declared"},
     {"x": ["1000", "1500", "2000", "2500"]}),
    ("distinct_keys",
     "SELECT l_returnflag FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
     "SELECT l_returnflag FROM lineitem GROUP BY l_returnflag",
     ["l_returnflag"], {}, {}),
    ("topk",
     "SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey "
     "ORDER BY c DESC, l_partkey LIMIT {k}",
     "SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey "
     "ORDER BY c DESC, l_partkey LIMIT {k}",
     ["#order"], {}, {"k": ["5", "10", "20"]}),
    ("kmv_setop",
     "SELECT count(*) AS n FROM (SELECT l_orderkey FROM lineitem "
     "INTERSECT SELECT o_orderkey FROM orders) t",
     "SELECT count(*) AS n FROM (SELECT l_orderkey FROM lineitem "
     "INTERSECT SELECT o_orderkey FROM orders) t",
     [], {"n": "declared"}, {}),
    ("star_group",
     "SELECT s_nationkey, count(*) AS n, sum(l_extendedprice) AS s FROM lineitem_r "
     "JOIN supplier ON l_suppkey = s_suppkey GROUP BY s_nationkey",
     f"SELECT s_nationkey, count(*) AS n, {dsum('l_extendedprice')} AS s FROM lineitem "
     f"JOIN supplier ON l_suppkey = s_suppkey GROUP BY s_nationkey",
     ["s_nationkey"], {}, {}),
    ("star_range",
     "SELECT s_nationkey, count(*) AS n, sum(l_extendedprice) AS s "
     "FROM lineitem_r JOIN supplier ON l_suppkey = s_suppkey "
     "WHERE l_extendedprice >= {x} GROUP BY s_nationkey",
     f"SELECT s_nationkey, count(*) AS n, {dsum('l_extendedprice')} AS s "
     f"FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
     f"WHERE l_extendedprice >= {{x}} GROUP BY s_nationkey",
     ["s_nationkey"], {"n": "declared", "s": "declared"},
     {"x": ["1000", "1500", "2000", "2500"]}),
    ("hdr_percentile",
     "SELECT percentile(l_tax, {p}) AS pv FROM lineitem",
     "SELECT quantile_cont(l_tax, {p}) AS pv FROM lineitem",
     [], {"pv": ("rel", HDR_REL)}, {"p": ["0.5", "0.9", "0.99"]}),
]


def _request(rid, sql, truth, keys, tol, live=None, **opts):
    body = dict(sql=sql, **opts)
    return dict(id=rid, body=json.dumps(body), sql=sql, truth=truth, keys=keys,
                tol=tol, live=live, max_rel_error=opts.get("max_rel_error", 0.05),
                exact_required=opts.get("prefer_exact", False))


def _cycle(rng, pool):
    """Literal for round i: the pool walked from a seeded starting point, so
    every run covers the whole pool as soon as it has len(pool) rounds."""
    start = rng.randrange(len(pool))
    return lambda i: pool[(start + i) % len(pool)]


# Live panels: served from the blobs the streaming maintainers keep over
# `live`, a table that grows by one micro-batch per refresh. The live view
# itself stays empty, so an answer can only come from the blobs; the truth
# is the generator's running state (checks.LiveTruth). Each is
# (id, SQL, literal pools). The HLL maintainer's blob has no panel: its
# served count leaves its 3-sigma bound once the live table grows past
# about 33,000 distinct keys, which only some runs reach (README); the
# end-of-run byte check covers its writes.
LIVE_PANELS = [
    ("live_groups", "SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s "
                    "FROM live GROUP BY l_returnflag", {}),
    ("live_filtered", "SELECT count(*) AS n, sum(l_extendedprice) AS s, "
                      "min(l_extendedprice) AS mn, max(l_extendedprice) AS mx "
                      "FROM live WHERE l_returnflag = '{flag}'",
     {"flag": ["A", "N", "R"]}),
    ("live_keys", "SELECT l_returnflag FROM live GROUP BY l_returnflag "
                  "ORDER BY l_returnflag", {}),
]
BATCH_ROWS = 5000
FLAGS = ["A", "N", "R"]


def live_batch(seed, i):
    """Rows (flag, price, partkey) of the micro-batch of round i."""
    rng = np.random.default_rng([seed, i])
    n = BATCH_ROWS
    flags = rng.choice(FLAGS, n, p=[0.25, 0.5, 0.25])
    cents = rng.integers(90_000, 10_500_000, n)
    part = rng.integers(0, 50_000, n, dtype=np.int64)
    return [(str(f), f"{c // 100}.{c % 100:02d}", int(p))
            for f, c, p in zip(flags, cents, part)]


def dashboard(seed, n_rounds, n_warm):
    """Refreshes: a micro-batch lands, then every panel in a seeded order,
    literals from pools. Batch 0 is folded at set-up."""
    rng = random.Random(seed)
    walks = [{k: _cycle(rng, v) for k, v in sorted(p[5].items())} for p in PANELS]
    live_walks = [{k: _cycle(rng, v) for k, v in sorted(p[2].items())} for p in LIVE_PANELS]
    rounds = []
    for i in range(n_rounds):
        reqs = []
        for (pid, sql, truth, keys, tol, _), walk in zip(PANELS, walks):
            picks = {k: w(i) for k, w in walk.items()}
            reqs.append(_request(pid, sql.format(**picks), truth.format(**picks), keys, tol))
        for (pid, sql, _), walk in zip(LIVE_PANELS, live_walks):
            picks = {k: w(i) for k, w in walk.items()}
            reqs.append(_request(pid, sql.format(**picks), None, [], {}, live=picks))
        rng.shuffle(reqs)
        rounds.append(dict(warm=i < n_warm, requests=reqs, batch=live_batch(seed, i + 1)))
    return live_batch(seed, 0), rounds


# The analyst's requests over the ten-fold widened lineitem (6M rows, a
# UNION ALL view, the repo's AQP protocol in graft.Bench), answered from its
# 1% uniform sample. The set is the same in every round and every run, so an
# answer that misses its budget (a fault of the program, not of the seed)
# fails the same share of every run: the join request does (README).
REV = "l_extendedprice * (1 - l_discount)"
SAMPLED = [
    ("count", "SELECT count(*) AS n FROM lineitem_x10 WHERE l_quantity < 15", [], {}),
    ("count", "SELECT count(*) AS n FROM lineitem_x10 WHERE l_quantity < 35", [], {}),
    ("sum", f"SELECT sum({REV}) AS s FROM lineitem_x10 WHERE l_quantity < 25", [], {}),
    ("avg", "SELECT avg(l_extendedprice) AS a, count(*) AS n FROM lineitem_x10 "
            "WHERE l_returnflag = 'R'", [], {}),
    ("group_by", f"SELECT l_returnflag, count(*) AS n, sum({REV}) AS s, "
                 f"avg(l_quantity) AS aq FROM lineitem_x10 WHERE l_discount <= 0.06 "
                 f"GROUP BY l_returnflag", ["l_returnflag"], {}),
    ("group_by2", "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                  "sum(l_quantity) AS s FROM lineitem_x10 "
                  "GROUP BY l_returnflag, l_linestatus", ["l_returnflag", "l_linestatus"], {}),
    ("join", "SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS s "
             "FROM lineitem_x10 JOIN orders ON l_orderkey = o_orderkey "
             "WHERE l_quantity < 15 GROUP BY o_orderpriority",
     ["o_orderpriority"], {"approximate_joins": True}),
    # one exact request per round: a full-scan count with prefer_exact
    ("count_exact", "SELECT count(*) AS n FROM lineitem_x10 WHERE l_quantity < 25",
     [], {"prefer_exact": True}),
]


def sampled(seed, n_rounds, n_warm):
    rng = random.Random(seed)
    rounds = []
    for i in range(n_rounds):
        mix = list(SAMPLED)
        rng.shuffle(mix)
        reqs = [_request(rid, sql, sql, keys, {}, **opts) for rid, sql, keys, opts in mix]
        rounds.append(dict(warm=i < n_warm, requests=reqs, batch=None))
    return [], rounds


WORKLOADS = {"dashboard": dashboard, "sampled": sampled}
