"""Function library vs independent oracles: md5 hashing vs duckdb,
vector math vs numpy, text metrics vs pure python."""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from daxos_spark.functions.hashing import (
    char_shingles,
    hamming32,
    md5_long,
    md5_long_lane2,
    md5_long_sql,
    minhash_mins,
    minhash_signature,
    simhash32,
    word_shingles,
)
from daxos_spark.functions import vectors as V
from daxos_spark.functions import text as T


def test_md5_long_matches_duckdb(spark):
    words = ["hello", "spark engine", "αβγ", ""]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", md5_long(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for w in words:
        expected = con.execute(f"select {md5_long_sql('?')}", [w]).fetchone()[0]
        assert got[w] == expected, w


def test_md5_lane2_independent(spark):
    """Lane 2 (hex 15-28) is the production second join key: it must
    match an independent python computation of the same digest slice and
    must differ from lane 1 (else the 112-bit claim collapses to 56)."""
    import hashlib

    words = ["hello", "spark engine", "αβγ", "x"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {
        r["s"]: (r["h1"], r["h2"])
        for r in df.select(
            "s",
            md5_long(F.col("s")).alias("h1"),
            md5_long_lane2(F.col("s")).alias("h2"),
        ).collect()
    }
    for w in words:
        hx = hashlib.md5(w.encode()).hexdigest()
        assert got[w][0] == int(hx[:14], 16), w
        assert got[w][1] == int(hx[14:28], 16), w
        assert got[w][0] != got[w][1], w


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d e",), ("x y",)], "s string")
    out = df.select(word_shingles(F.col("s"), 3).alias("sh")).collect()
    assert out[0]["sh"] == ["a b c", "b c d", "c d e"]
    assert out[1]["sh"] == ["x y"]
    ch = df.select(char_shingles(F.col("s"), 5).alias("sh")).collect()
    assert ch[1]["sh"] == ["x y"]
    assert len(ch[0]["sh"]) == 5


def _hof_word_shingles(text, n):
    """The interpreted form word_shingles replaced (sequence/transform/
    slice): the reference its regex kernel must equal exactly."""
    toks = F.split(F.trim(text), r"\s+")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), k), lambda i: F.array_join(F.slice(toks, i, n), " ")
        )
    )


# (text, {n: expected}) — Java's \s is [ \t\n\x0B\f\r]; trim strips
# spaces only, so a leading/trailing tab leaves an empty token; NBSP and
# U+2003 are not separators; emoji are surrogate pairs in Java strings.
_EMOJI = "\U0001F600"
_FRAK = "\U0001D518"
_SHINGLE_CASES = [
    ("a b c a b", {2: ["a b", "b c", "c a"], 3: ["a b c", "b c a", "c a b"],
                   4: ["a b c a", "b c a b"], 5: ["a b c a b"]}),
    ("\ta\n\nb\x0bc\x0c\rd ", {2: [" a", "a b", "b c", "c d"], 3: [" a b", "a b c", "b c d"],
                               4: [" a b c", "a b c d"], 5: [" a b c d"]}),
    ("a b\t", {2: ["a b", "b "], 3: ["a b "], 4: ["a b "], 5: ["a b "]}),
    ("  a\tb  ", {n: ["a b"] for n in (2, 3, 4, 5)}),
    ("x\u00a0y\u2003z w", {n: ["x\u00a0y\u2003z w"] for n in (2, 3, 4, 5)}),
    (f"{_EMOJI} {_FRAK} {_EMOJI} {_FRAK} {_EMOJI}",
     {2: [f"{_EMOJI} {_FRAK}", f"{_FRAK} {_EMOJI}"],
      3: [f"{_EMOJI} {_FRAK} {_EMOJI}", f"{_FRAK} {_EMOJI} {_FRAK}"],
      4: [f"{_EMOJI} {_FRAK} {_EMOJI} {_FRAK}", f"{_FRAK} {_EMOJI} {_FRAK} {_EMOJI}"],
      5: [f"{_EMOJI} {_FRAK} {_EMOJI} {_FRAK} {_EMOJI}"]}),
    (f"{_EMOJI}{_EMOJI} x {_EMOJI}",
     {2: [f"{_EMOJI}{_EMOJI} x", f"x {_EMOJI}"], 3: [f"{_EMOJI}{_EMOJI} x {_EMOJI}"],
      4: [f"{_EMOJI}{_EMOJI} x {_EMOJI}"], 5: [f"{_EMOJI}{_EMOJI} x {_EMOJI}"]}),
    ("\t", {n: [" "] for n in (2, 3, 4, 5)}),
    ("", {n: [""] for n in (2, 3, 4, 5)}),
    (None, {n: [None] for n in (2, 3, 4, 5)}),
    ("solo", {n: ["solo"] for n in (2, 3, 4, 5)}),
    ("two words", {n: ["two words"] for n in (2, 3, 4, 5)}),
    ("z z z z z z", {n: [" ".join(["z"] * n)] for n in (2, 3, 4, 5)}),
]


def test_word_shingles_exact(spark):
    """The regex kernel equals the interpreted HOF form and hand-written
    arrays, element order included, for n = 2..5 — on the edge cases
    above and on ~4,000 random mixes of tokens and whitespace runs."""
    import random

    rng = random.Random(7)
    words = ["a", "b", "foo", "é", _EMOJI, _FRAK, f"ab{_EMOJI}", "x\u00a0y", "\u2003"]
    seps = [" ", "  ", "\t", "\n", "\x0b", "\x0c", "\r", "\t\n ", " \r\n"]
    rand = []
    for _ in range(4000):
        t = "".join(rng.choice(words) + rng.choice(seps) for _ in range(rng.randint(0, 9)))
        if rng.random() < 0.5:
            t = rng.choice(seps) + t
        if t and rng.random() < 0.5:
            t = t[:-1]
        rand.append(t)
    df = spark.createDataFrame(
        list(enumerate([t for t, _ in _SHINGLE_CASES] + rand)), "i int, t string"
    )
    for n in (2, 3, 4, 5):
        cols = df.select(
            "i",
            word_shingles(F.col("t"), n).alias("got"),
            _hof_word_shingles(F.col("t"), n).alias("ref"),
        )
        assert cols.filter(~F.col("got").eqNullSafe(F.col("ref"))).count() == 0, n
        got = {r["i"]: r["got"] for r in cols.filter(F.col("i") < len(_SHINGLE_CASES)).collect()}
        for i, (text, want) in enumerate(_SHINGLE_CASES):
            assert got[i] == want[n], (text, n)


def test_shingle_path_has_no_lambda(spark, monkeypatch):
    """word_shingles and both lanes of _jaccard_edge_pairs' shingle
    stream are generated code: no interpreted lambda on the per-shingle
    path."""
    from daxos_spark.plans import docpipe

    df = spark.createDataFrame([(1, "web", "a b c d")], "doc_id long, source string, text string")

    def plan(d):
        return d._jdf.queryExecution().explainString(
            d._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended")
        )

    assert "lambda" not in plan(df.select(word_shingles(F.col("text"), 3)))
    streams = []

    def capture(sh0, keys):
        streams.append(sh0)
        return sh0.select(F.col("doc_id").alias("da"), F.col("doc_id").alias("db"),
                          F.lit(1.0).alias("j")), []

    monkeypatch.setattr(docpipe, "shingle_overlap", capture)
    for two_lane in (False, True):
        docpipe._jaccard_edge_pairs(df, two_lane=two_lane)
    assert len(streams) == 2
    for sh0 in streams:
        text = plan(sh0)
        assert "regexp_extract_all" in text and "md5" in text
        assert "lambda" not in text


def test_minhash_mins_equal_signature(spark):
    """minhash_mins over the exploded (doc, shingle) stream gives, per
    doc, exactly the array minhash_signature computes per row."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat and more"),
        (3, "completely different content with other tokens"),
        (4, "short"),
        (5, "a b a b a b a b"),
    ]
    df = spark.createDataFrame(docs, "id int, s string")
    want = {
        r["id"]: r["sig"]
        for r in df.select("id", minhash_signature(word_shingles(F.col("s"), 3), 8).alias("sig"))
        .collect()
    }
    got = {
        r["id"]: [r[f"m{i}"] for i in range(8)]
        for r in df.select("id", F.explode(word_shingles(F.col("s"), 3)).alias("g"))
        .groupBy("id")
        .agg(*minhash_mins(F.col("g"), 8))
        .collect()
    }
    assert got == want
    assert len(set(map(tuple, got.values()))) == len(docs)


def test_minhash_containment(spark):
    """Near-identical docs share most minhashes; disjoint docs share none."""
    a = "the quick brown fox jumps over the lazy dog " * 3
    b = a + "extra tail words here"
    c = "completely different content with other tokens entirely"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "id int, s string")
    sigs = {
        r["id"]: r["sig"]
        for r in df.select(
            "id", minhash_signature(word_shingles(F.col("s"), 3), 16).alias("sig")
        ).collect()
    }
    match_ab = sum(x == y for x, y in zip(sigs[1], sigs[2]))
    match_ac = sum(x == y for x, y in zip(sigs[1], sigs[3]))
    assert match_ab >= 10
    assert match_ac == 0


def test_simhash_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "one two three four five six seven eight")],
        "id int, s string",
    )
    sh = {r["id"]: r["h"] for r in df.select("id", simhash32(T.tokens(F.col("s"))).alias("h")).collect()}
    d = spark.createDataFrame([(sh[1], sh[2]), (sh[1], sh[3])], "a long, b long")
    dists = [r["d"] for r in d.select(hamming32(F.col("a"), F.col("b")).alias("d")).collect()]
    assert dists[0] < dists[1]


def test_vector_math_vs_numpy(spark):
    rng = np.random.RandomState(0)
    a, b = rng.randn(16).astype(np.float32), rng.randn(16).astype(np.float32)
    df = spark.createDataFrame([(a.tolist(), b.tolist())], "a array<float>, b array<float>")
    row = df.select(
        V.dot(F.col("a"), F.col("b")).alias("dot"),
        V.l2_norm(F.col("a")).alias("na"),
        V.cosine(F.col("a"), F.col("b")).alias("cos"),
        V.vec_sub(F.col("a"), F.col("b")).alias("sub"),
    ).collect()[0]
    ad, bd = a.astype(np.float64), b.astype(np.float64)
    assert abs(row["dot"] - ad @ bd) < 1e-9
    assert abs(row["na"] - np.linalg.norm(ad)) < 1e-9
    assert abs(row["cos"] - (ad @ bd) / (np.linalg.norm(ad) * np.linalg.norm(bd))) < 1e-9
    np.testing.assert_allclose(row["sub"], ad - bd, rtol=1e-12)


def test_text_metrics(spark):
    df = spark.createDataFrame([("The cat and the dog in a house",)], "s string")
    row = df.select(
        T.token_count(F.col("s")).alias("n"),
        T.stopword_hits(F.col("s"), T.EN_STOPWORDS).alias("hits"),
        T.avg_token_len(F.col("s")).alias("avg_len"),
        T.langid(F.col("s")).alias("lang"),
        T.fingerprint(F.col("s")).alias("fp"),
    ).collect()[0]
    assert row["n"] == 8
    assert row["hits"] == 5  # the×2, and, in, a
    assert row["lang"] == "en"
    assert isinstance(row["fp"], int)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("different",)], "s string"
    )
    fps = [r["fp"] for r in df.select(T.fingerprint(F.col("s")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_lsh_bucket_properties(spark):
    """LSH signatures: buckets in [0, 2^B), multiprobe covers all
    single-bit flips, and candidate ranking equals the exact integer
    dot product (so LSH top-k ⊆ brute-force ranking of its candidates)."""
    import numpy as np
    from pyspark.sql import functions as F

    from daxos_spark.functions.similarity import (
        LSH_BITS,
        int_code,
        lsh_bucket,
        lsh_planes,
        lsh_probe_buckets,
    )

    planes = lsh_planes()
    assert len(planes) == LSH_BITS and all(len(p) == 64 for p in planes)
    assert planes == lsh_planes()  # deterministic

    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in rng.randn(64)] for _ in range(40)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vid: long, ev: array<double>"
    )
    out = df.select(
        "vid",
        lsh_bucket(int_code(F.col("ev")), planes).alias("b"),
        lsh_probe_buckets(lsh_bucket(int_code(F.col("ev")), planes)).alias("probes"),
    ).collect()

    for r in out:
        assert 0 <= r.b < (1 << LSH_BITS)
        assert len(r.probes) == LSH_BITS + 1 and r.probes[0] == r.b
        assert sorted(p ^ r.b for p in r.probes) == [0] + [1 << i for i in range(LSH_BITS)]

    # numpy oracle for the bucket of vector 0
    code0 = np.floor(np.array(vecs[0]) * 1000.0).astype(np.int64)
    expect = sum(
        (1 << b) for b, w in enumerate(planes) if int(code0 @ np.array(w, dtype=np.int64)) >= 0
    )
    assert out[0].b == expect
