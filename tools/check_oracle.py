"""Local replica of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its
oracle_sql() on duckdb (same parquet tables registered as views),
then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified
with float normalization).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --vanilla --window [sf_dir]

--vanilla: use an untuned SparkSession mirroring the external driver's
  (local[8], shuffle.partitions=8) instead of daxos_spark.session
  defaults — values must be identical (the DECIMAL/trunc6 determinism
  design is config-independent); this flag lets each round PROVE it.
--window: check only the alphabetically-first 50 names — exactly the
  set the driver records in CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import hashlib
import math
import os
import pathlib
import sys
import tempfile
import time

import duckdb
import pandas as pd


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # normalize -0.0 and widths; 12 significant digits
        if v == 0:
            return "0"
        return f"{v:.12g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_digest(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    d = df[cols].copy()
    rows = sorted(tuple(_norm_cell(v) for v in row) for row in d.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), cols, h.hexdigest()[:16]


def duckdb_mem_mb() -> int:
    """Half the host's physical memory, at least 1 GB — the share
    session._default_driver_mem gives the Spark heap. A limit past what
    the host can give is OOM-killed before it spills. A quarter is too
    little: at sf0.01 the t_ingest_epochs oracle fails to pin a block
    under a 4.5 GB limit (it passes at 5 GB, peak RSS 1.2 GB)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return 8192
    return max(1024, phys // 2 // 2**20)


def duckdb_views(sf_dir: str):
    """A duckdb connection with every catalog table of ``sf_dir`` as a
    view, RAM bounded by `duckdb_mem_mb` and spilling to a temp dir.
    Harness dirs hold single parquet FILES, synthesized corpora
    (tools/scale.py) Spark-written DIRECTORIES."""
    from daxos_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute(f"SET memory_limit='{duckdb_mem_mb()}MB'")
    con.execute(f"SET temp_directory='{os.path.join(tempfile.gettempdir(), 'duckdb_spill')}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        pat = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    return con


def _jvm_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def main() -> int:
    args = [a for a in sys.argv[1:]]
    vanilla = "--vanilla" in args
    window = "--window" in args
    args = [a for a in args if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry_mod

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .appName("check_oracle_vanilla")
            .getOrCreate()
        )
    else:
        from daxos_spark.session import get_spark

        spark = get_spark("check_oracle")
    qs = entry_mod.queries()
    if window:
        keep = set(sorted(qs)[:50])
        only = keep if not only else (only & keep)
    oracles = entry_mod.oracle_sql()

    con = duckdb_views(sf_dir)

    n_pass = n_fail = n_rowsonly = 0
    t_all = time.time()
    names = [n for n in sorted(qs) if not only or n in only]
    for i, name in enumerate(names):
        t0 = time.time()
        sdf = None
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
        try:
            # queries persist() intermediates for their own jobs; the
            # harness clears between queries so leaked caches don't
            # accumulate across the 193-query gate (see bench.py)
            spark.catalog.clearCache()
        except Exception:
            pass
        if not _jvm_alive(spark):
            # a dead JVM (e.g. OOM-killed) fails every later query the
            # same way: count them, and still print the summary
            for rest in names[i + 1 :]:
                print(f"FAIL {rest}: Spark session is gone")
            n_fail += len(names) - i - 1
            break
        if sdf is None:
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows {name}: {len(sdf)} rows ({dt:.1f}s) [rows-only]")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        sn, sc, sh = frame_digest(sdf)
        on, oc, oh = frame_digest(odf)
        ok = (sn, sc, sh) == (on, oc, oh)
        if ok:
            print(f"PASS {name}: {sn} rows, hash {sh} ({dt:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: spark(n={sn}, cols={sc}, h={sh}) vs oracle(n={on}, cols={oc}, h={oh})")
            if sn and on and sc == oc:
                merged = sdf[sorted(sdf.columns)].head(5)
                print("  spark head:\n", merged.to_string())
                print("  oracle head:\n", odf[sorted(odf.columns)].head(5).to_string())
    print(
        f"== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only "
        f"({time.time()-t_all:.0f}s total @ {sf_dir})"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
