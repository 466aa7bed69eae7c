"""tools/scale.py: the replica synthesizer, its corpus reuse, the
duckdb view helper and the in-engine digests, on sf0.001 at ×2."""

from __future__ import annotations

import json
import os
import pathlib
import sys

import pyspark.sql.functions as F
import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from daxos_spark.catalog import DEFAULT_SF_DIR, TABLES, load_tables  # noqa: E402
from tools import scale  # noqa: E402

BASE = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    return scale.synthesize(spark, BASE, str(tmp_path_factory.mktemp("scale") / "x2"), 2)


def _spans(spark):
    base = load_tables(spark, BASE)
    return {
        name: {
            k: int(base[name].agg(F.max(k)).first()[0]) + 1 for k in keys
        }
        for name, keys in scale.FACT_KEYS.items()
    }


def test_row_counts_and_disjoint_replica_keys(spark, corpus):
    base, big = load_tables(spark, BASE), load_tables(spark, corpus)
    for name in TABLES:
        want = base[name].count() * (2 if name in scale.FACT_KEYS else 1)
        assert big[name].count() == want, name
    for name, spans in _spans(spark).items():
        for k, span in spans.items():
            b = {r[0] for r in base[name].select(k).distinct().collect()}
            s = {r[0] for r in big[name].select(k).distinct().collect()}
            # replica 1's keys are replica 0's shifted past the base max
            assert max(b) < span, (name, k)
            assert s == b | {v + span for v in b}, (name, k)


def test_rotated_text_keeps_length_gopher_and_disjoint_tokens(spark, corpus):
    from daxos_spark.operators.refinery import gopher_flags

    span = _spans(spark)["documents"]["doc_id"]
    docs = load_tables(spark, corpus)["documents"]
    rep = F.when(F.col("doc_id") >= span, 1).otherwise(0)
    base_id = F.col("doc_id") % F.lit(span)
    pairs = (
        docs.select(base_id.alias("id"), rep.alias("r"), "text", "n_chars")
        .groupBy("id")
        .pivot("r", [0, 1])
        .agg(F.first("text").alias("text"), F.first("n_chars").alias("n"))
        .collect()
    )
    assert len(pairs) == docs.count() // 2
    for p in pairs:
        assert len(p["0_text"]) == len(p["1_text"]) == p["0_n"] == p["1_n"]
    flags = gopher_flags(docs).withColumn("r", rep).withColumn("id", base_id).drop("doc_id")
    f0 = {tuple(r) for r in flags.filter("r = 0").drop("r").collect()}
    f1 = {tuple(r) for r in flags.filter("r = 1").drop("r").collect()}
    assert f0 == f1
    toks = docs.select(rep.alias("r"), F.explode(F.split("text", " ")).alias("t")).filter(
        ~F.col("t").isin(*scale.STOPWORDS)
    )
    t0 = {r[0] for r in toks.filter("r = 0").select("t").distinct().collect()}
    t1 = {r[0] for r in toks.filter("r = 1").select("t").distinct().collect()}
    assert t0 and t1 and not (t0 & t1)


def test_rotate_maps_are_distinct_bijections_and_cap_the_factor(spark, tmp_path):
    maps = [scale._rotate_map(r) for r in range(scale.MAX_ROTATE_FACTOR)]
    assert len(maps) == 52 and len(set(maps)) == 52
    assert all(sorted(m) == list(scale.ALPHA) for m in maps)
    out = tmp_path / "x53"
    with pytest.raises(ValueError):
        scale.synthesize(spark, BASE, str(out), 53)
    assert not out.exists()
    with pytest.raises(ValueError):
        scale._rotate_map(52)


def test_stale_or_partial_corpus_is_rebuilt(spark, tmp_path):
    out = str(tmp_path / "c")
    marker = os.path.join(out, scale.MARKER)
    scale.synthesize(spark, BASE, out, 2)
    n2 = spark.read.parquet(os.path.join(out, "documents.parquet")).count()
    # a matching marker is reused as is
    mtime = os.path.getmtime(marker)
    scale.synthesize(spark, BASE, out, 2)
    assert os.path.getmtime(marker) == mtime
    # another factor into the same dir rebuilds it
    scale.synthesize(spark, BASE, out, 3)
    assert spark.read.parquet(os.path.join(out, "documents.parquet")).count() == n2 // 2 * 3
    with open(marker) as f:
        assert json.load(f)["factor"] == 3
    # a dir without its marker (a crashed write) counts as not built
    os.remove(marker)
    scale.synthesize(spark, BASE, out, 2)
    assert spark.read.parquet(os.path.join(out, "documents.parquet")).count() == n2
    assert os.path.exists(marker)
    # a directory holding anything else is never cleared
    (tmp_path / "c" / "notes.txt").write_text("keep")
    os.remove(marker)
    with pytest.raises(ValueError):
        scale.synthesize(spark, BASE, out, 2)
    assert (tmp_path / "c" / "notes.txt").exists()


def test_corpus_dir_keys_base_factor_and_mode():
    a = scale.corpus_dir(BASE, 10)
    assert a.startswith(str(scale.TMP))
    assert len({a, scale.corpus_dir(BASE, 40), scale.corpus_dir(BASE, 10, copies=True),
                scale.corpus_dir("/elsewhere/sf0.001", 10)}) == 4


def test_spark_digest_is_order_independent(spark):
    df = load_tables(spark, BASE)["documents"].select("doc_id", "text")
    key = F.concat_ws("|", "doc_id", "text")
    d = scale.spark_digest(df, key)
    assert d[0] == 500
    assert scale.spark_digest(df.orderBy(F.desc("doc_id")), key) == d
    assert scale.spark_digest(df.repartition(7, "text"), key) == d
    assert scale.spark_digest(df.limit(499), key) != d


def test_duckdb_views_bound_memory_and_read_files_and_dirs(spark, corpus):
    from tools.check_oracle import duckdb_mem_mb, duckdb_views

    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < duckdb_mem_mb() < phys_mb
    for d in (BASE, corpus):  # single parquet files; Spark-written dirs
        assert os.path.isdir(os.path.join(d, "documents.parquet")) == (d == corpus)
        con = duckdb_views(d)
        for t in TABLES:
            n = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
            assert n == load_tables(spark, d)[t].count(), (d, t)


def test_refinery_lane_proof_passes_with_survivors(spark, corpus, capsys):
    assert scale.refinery_lane_digest(spark, corpus)
    err = capsys.readouterr().err
    assert "PASS t_refinery_linear == t_refinery_lane2" in err
    n2 = int(err.split("stage 2: linear n=")[1].split()[0])
    assert n2 > 0


def test_prefix_proof_passes_and_skips_a_twin_past_the_host(spark, corpus, monkeypatch, capsys):
    assert scale.prefix_digest(spark, corpus) is True
    assert "PASS d_prefix_filter_jaccard digest" in capsys.readouterr().err
    monkeypatch.setattr(scale, "_TWIN_BYTES_PER_PAIR", 2**40)
    assert scale.prefix_digest(spark, corpus) is None
    assert "SKIP d_prefix_filter_jaccard digest" in capsys.readouterr().err
