#!/usr/bin/env python
"""Hash-proof d_prefix_filter_jaccard at the 10× corpus WITHOUT a
driver collect.

At tmp_sf1 the query's legitimate output is ~71M pairs (dup mass
scales linearly with the replicated corpus): the standard gate's
toPandas() hash check exceeds spark.driver.maxResultSize, and the
committed brute-force oracle (all-pairs list_intersect) is O(n²) in
documents — 2.5G pair intersections at 50k docs — infeasible in any
engine. This probe therefore compares ORDER-INDEPENDENT DIGESTS,
computed inside each engine, of the full result set:

    n_rows, SUM(md5_long(da || '|' || db || '|' || jaccard_micro))

summed as DECIMAL(38,0) (exact, associative → order-independent;
56-bit summands over ≤ 2^31 rows cannot overflow 38 digits).
jaccard_micro = ROUND(jaccard * 1e6): the query's jaccard is already
FLOOR-truncated to 6 decimals, so the back-scaled double is an
integer ± 1 ulp and nearest-int rounding is engine-identical (never a
.5 tie).

The duckdb side runs a PREFIX-FILTERED twin (same algorithm, not the
brute-force oracle) — cross-engine equality of the scaled run; the
losslessness of the prefix filter itself vs brute force is proven by
the committed sf0.01/sf0.1 gates.

Usage: python tools/prefix_digest_probe.py [sf_dir]   (default tmp_sf1)
"""

from __future__ import annotations

import os
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from daxos_spark.functions.hashing import md5_long, md5_long_sql

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# prefix-filtered twin of the registered query (τ = 0.6), in duckdb SQL
_DUCK_TWIN = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS t FROM documents
), dfreq AS (
  SELECT t, COUNT(*) AS df FROM tok GROUP BY t
), sorted_tk AS (
  SELECT doc_id, list(t ORDER BY df, t) AS tk, COUNT(*) AS n
  FROM tok JOIN dfreq USING (t) GROUP BY doc_id
), pref AS (
  SELECT doc_id, n, unnest(tk[1 : CAST(n - CEIL(0.6 * n) + 1 AS BIGINT)]) AS t
  FROM sorted_tk
), cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM pref a JOIN pref b
    ON a.t = b.t AND a.doc_id < b.doc_id
   AND LEAST(a.n, b.n) * 10 >= GREATEST(a.n, b.n) * 6
), inter AS (
  SELECT c.da, c.db, COUNT(*) AS ni
  FROM cand c
  JOIN tok x ON x.doc_id = c.da
  JOIN tok y ON y.doc_id = c.db AND y.t = x.t
  GROUP BY c.da, c.db
), pairs AS (
  SELECT i.da, i.db,
         FLOOR((i.ni / (sa.n + sb.n - i.ni)) * 1000000.0) / 1000000.0 AS jaccard
  FROM inter i
  JOIN sorted_tk sa ON sa.doc_id = i.da
  JOIN sorted_tk sb ON sb.doc_id = i.db
  WHERE 10 * i.ni >= 6 * (sa.n + sb.n - i.ni)
)
SELECT COUNT(*) AS n_rows,
       SUM(CAST({md5_long_sql("concat(da, '|', db, '|', CAST(ROUND(jaccard * 1000000.0) AS BIGINT))")}
               AS DECIMAL(38,0))) AS digest
FROM pairs
"""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else f"{REPO}/tmp_sf1"

    from daxos_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark()
    t0 = time.time()
    out = E.queries()["d_prefix_filter_jaccard"](spark, sf_dir)
    key = F.concat_ws(
        "|",
        F.col("da"),
        F.col("db"),
        F.round(F.col("jaccard") * F.lit(1000000.0)).cast("bigint"),
    )
    row = out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(md5_long(key).cast("decimal(38,0)")).alias("digest"),
    ).first()
    s_n, s_d = int(row["n_rows"]), int(row["digest"])
    t_spark = time.time() - t0
    print(f"spark : n={s_n} digest={s_d} ({t_spark:.0f}s)")

    import duckdb

    con = duckdb.connect()
    p = f"{sf_dir}/documents.parquet"
    pat = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pat}')")
    t0 = time.time()
    o = con.execute(_DUCK_TWIN).fetchone()
    o_n, o_d = int(o[0]), int(o[1])
    print(f"duckdb: n={o_n} digest={o_d} ({time.time()-t0:.0f}s)")
    ok = (s_n, s_d) == (o_n, o_d)
    print(f"{'PASS' if ok else 'FAIL'} d_prefix_filter_jaccard digest @ {sf_dir}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
