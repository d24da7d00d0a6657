#!/usr/bin/env python3
"""Compare the generated inputs with a reference fixture, statistic by
statistic: physical types, value domains, cardinalities and ranges of
every column, plus the join fan-outs, filter selectivities and skews the
measured queries depend on. Prints one line per statistic, reference
value beside generated value, and a final count of statistics that
differ by more than their tolerance: none for types, domains, row
counts, integer and key ranges and day-level time ranges; 5% relative
for shares, means, medians and distinct counts of continuous values;
20% for the extremes of random draws (a maximum fan-out, the largest
value), and three standard deviations of a Poisson count for rare
counts (the few documents that are exact copies), which vary that much
between seeds.

    python3 perfbench/gen.py GEN_DIR --seed 1
    python3 perfbench/calibrate.py REF_DIR GEN_DIR

REF_DIR holds the sf0.1 tables (region, part, orders, lineitem, events,
documents; one parquet file each). README.md records the last result.
"""
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ("region", "part", "orders", "lineitem", "events", "documents")
TOL = 0.05
TOL_EXTREME = 0.2
EXACT = 0.0
POISSON = -1.0

# (name, SQL returning one number, tolerance) over the views of one directory
STATS = [
    # join fan-outs and key skew
    ("lineitem per order: mean", "SELECT avg(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)", TOL),
    ("lineitem per order: max", "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)", TOL_EXTREME),
    ("orders without lineitem: share",
     "SELECT avg(CASE WHEN l IS NULL THEN 1 ELSE 0 END) FROM orders o "
     "LEFT JOIN (SELECT DISTINCT l_orderkey l FROM lineitem) x ON o.o_orderkey = x.l", TOL),
    ("lineitem per part: max", "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_partkey)", TOL_EXTREME),
    ("orders per customer: mean", "SELECT avg(n) FROM (SELECT count(*) n FROM orders GROUP BY o_custkey)", TOL),
    ("orders per customer: max", "SELECT max(n) FROM (SELECT count(*) n FROM orders GROUP BY o_custkey)", TOL_EXTREME),
    ("orders per custkey%5 region: max share",
     "SELECT max(n) / sum(n) FROM (SELECT count(*) n FROM orders GROUP BY o_custkey % 5)", TOL),
    ("orders per month: mean", "SELECT avg(n) FROM (SELECT count(*) n FROM orders GROUP BY strftime(o_orderdate, '%Y-%m'))", TOL),
    ("events per user: mean", "SELECT avg(n) FROM (SELECT count(*) n FROM events GROUP BY user_id)", TOL),
    ("events per user: max", "SELECT max(n) FROM (SELECT count(*) n FROM events GROUP BY user_id)", TOL_EXTREME),
    ("events per user-day: mean",
     "SELECT avg(n) FROM (SELECT count(*) n FROM events GROUP BY user_id, CAST(ts AS DATE))", TOL),
    ("events per user-day: max",
     "SELECT max(n) FROM (SELECT count(*) n FROM events GROUP BY user_id, CAST(ts AS DATE))", TOL_EXTREME),
    ("user-days", "SELECT count(*) FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)", TOL),
    ("event days", "SELECT count(DISTINCT CAST(ts AS DATE)) FROM events", EXACT),
    ("events per day: max/min",
     "SELECT max(n) / min(n) FROM (SELECT count(*) n FROM events GROUP BY CAST(ts AS DATE))", TOL_EXTREME),
    # gaps q39's transfer logic thresholds (next leg start - this leg end, us)
    ("q39 same-day gap in [0, 4h]: share",
     "SELECT avg(CASE WHEN g BETWEEN 0 AND 14400000000 THEN 1 ELSE 0 END) FROM ("
     " SELECT lead(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id)"
     "   - (epoch_us(ts) + CAST(round(value * 60000000) AS BIGINT)) g FROM events) WHERE g IS NOT NULL", TOL),
    # filter selectivities
    ("l_returnflag != 'N': share", "SELECT avg(CASE WHEN l_returnflag != 'N' THEN 1 ELSE 0 END) FROM lineitem", TOL),
    ("l_returnflag = 'R': share", "SELECT avg(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) FROM lineitem", TOL),
    ("p_type contains 'BRASS': share", "SELECT avg(CASE WHEN contains(p_type, 'BRASS') THEN 1 ELSE 0 END) FROM part", EXACT),
    ("event_type = 'purchase': share", "SELECT avg(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) FROM events", TOL),
    ("event_type max share", "SELECT max(n) / sum(n) FROM (SELECT count(*) n FROM events GROUP BY event_type)", TOL),
    ("o_orderstatus max share", "SELECT max(n) / sum(n) FROM (SELECT count(*) n FROM orders GROUP BY o_orderstatus)", TOL),
    ("l_linenumber = 1: share", "SELECT avg(CASE WHEN l_linenumber = 1 THEN 1 ELSE 0 END) FROM lineitem", TOL),
    # value distributions
    ("events.value: median", "SELECT median(value) FROM events", TOL),
    ("events.value: p99", "SELECT quantile_cont(value, 0.99) FROM events", TOL),
    ("o_totalprice: median", "SELECT median(o_totalprice) FROM orders", TOL),
    ("l_extendedprice: median", "SELECT median(l_extendedprice) FROM lineitem", TOL),
    ("l_extendedprice / l_quantity: median", "SELECT median(l_extendedprice / l_quantity) FROM lineitem", TOL),
    ("l_shipdate before o_orderdate: share",
     "SELECT avg(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) FROM lineitem JOIN orders ON l_orderkey = o_orderkey", TOL),
    # documents
    ("documents: words per doc, median", "SELECT median(len(string_split(text, ' '))) FROM documents", TOL),
    ("documents: words per doc, min", "SELECT min(len(string_split(text, ' '))) FROM documents", TOL),
    ("documents: words per doc, max", "SELECT max(len(string_split(text, ' '))) FROM documents", TOL),
    ("documents: vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)", EXACT),
    ("documents: near copies", "SELECT count(*) FROM documents WHERE ends_with(text, ' dup')", TOL),
    ("documents with an exact copy",
     "SELECT count(*) FROM documents WHERE text IN (SELECT text FROM documents GROUP BY text HAVING count(*) > 1)", POISSON),
    ("documents: lang max share", "SELECT max(n) / sum(n) FROM (SELECT count(*) n FROM documents GROUP BY lang)", TOL),
    ("documents: n_chars = length(text): share", "SELECT avg(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) FROM documents", EXACT),
]


def connect(d):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    return con


def column_stats(con, d, t):
    """(name, value, tolerance) for each column of table `t`."""
    out = [(f"{t}: rows", con.execute(f"SELECT count(*) FROM {t}").fetchone()[0], EXACT)]
    for f in pq.ParquetFile(f"{d}/{t}.parquet").schema_arrow:
        c, ty = f.name, str(f.type)
        ndv, nulls = con.execute(f"SELECT count(DISTINCT {c}), count(*) - count({c}) FROM {t}").fetchone()
        # distinct counts are exact for keys and small domains, and
        # statistical for values and foreign keys drawn at random
        drawn = 100 < ndv < out[0][1]
        out += [(f"{t}.{c}: type", ty, EXACT),
                (f"{t}.{c}: distinct", ndv, TOL if drawn else EXACT),
                (f"{t}.{c}: nulls", nulls, EXACT)]
        if ty == "string":
            if ndv <= 100:
                dom = con.execute(f"SELECT list(DISTINCT {c} ORDER BY {c}) FROM {t}").fetchone()[0]
                out.append((f"{t}.{c}: domain", ",".join(dom), EXACT))
        else:
            v = f"CAST({c} AS DATE)" if ty.startswith("timestamp") else c
            lo, hi = con.execute(f"SELECT min({v}), max({v}) FROM {t}").fetchone()
            tol = TOL_EXTREME if ty == "double" or (t, c) == ("documents", "n_chars") else EXACT
            out += [(f"{t}.{c}: min", lo, tol), (f"{t}.{c}: max", hi, tol)]
    return out


def close(a, b, tol):
    if tol == EXACT or not all(isinstance(x, (int, float)) for x in (a, b)):
        return a == b
    if tol == POISSON:
        return abs(a - b) <= 3 * max(a, b, 1) ** 0.5
    return abs(a - b) <= tol * max(abs(a), abs(b), 1e-12)


def main():
    ref_dir, gen_dir = sys.argv[1], sys.argv[2]
    ref, gen = connect(ref_dir), connect(gen_dir)
    rows = []
    for t in TABLES:
        rows += [(n, r, g, e) for (n, r, e), (_, g, _) in
                 zip(column_stats(ref, ref_dir, t), column_stats(gen, gen_dir, t))]
    for name, sql, tol in STATS:
        rows.append((name, ref.execute(sql).fetchone()[0], gen.execute(sql).fetchone()[0], tol))
    off = 0
    for name, r, g, tol in rows:
        ok = close(r, g, tol)
        off += not ok
        fmt = (lambda v: f"{v:.6g}" if isinstance(v, float) else str(v)[:60])
        print(f"{'ok ' if ok else 'OFF'} {name:<52} ref={fmt(r):<26} gen={fmt(g)}")
    print(f"{len(rows) - off} of {len(rows)} statistics match, {off} off")


if __name__ == "__main__":
    main()
