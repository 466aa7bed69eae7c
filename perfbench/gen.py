"""Seeded input generators. Each function is a pure function of its
seed and sizes: the same arguments write byte-identical files.

The program under test only ever sees the files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_COVARS = 3
CAUSAL_BETAS = (1.2, 1.6)  # log-odds per allele of the two planted SNPs


@dataclass
class Genotypes:
    """What the generator planted, kept in memory for the output checks."""

    x: np.ndarray  # (n, p) dosages in {0, 1, 2}
    covars: np.ndarray  # (n, N_COVARS)
    label: np.ndarray  # (n,) 0/1
    seed: int


def genotypes(seed: int, n: int, p: int) -> Genotypes:
    """Dosage matrix with two causal SNPs whose effect is confounded by
    the first covariate (it shifts both allele frequency and risk)."""
    rng = np.random.default_rng([seed, 1])
    covars = rng.normal(size=(n, N_COVARS))
    maf = rng.uniform(0.1, 0.5, size=p)
    shift = 0.05 * np.tanh(covars[:, :1])  # covariate-dependent allele frequency
    x = rng.binomial(2, np.clip(maf[None, :] + shift, 0.01, 0.99)).astype(np.int8)
    logit = -1.0 + 0.5 * covars[:, 0]
    for c, b in zip(rng.choice(p, size=2, replace=False), CAUSAL_BETAS):
        logit = logit + b * x[:, c]
    label = (rng.uniform(size=n) < 1.0 / (1.0 + np.exp(-logit))).astype(np.int8)
    return Genotypes(x=x, covars=covars, label=label, seed=seed)


def write_plink(g: Genotypes, out_dir: str) -> tuple[str, str]:
    """PLINK ``.raw`` text (whitespace, 6 FAM columns, phenotype 1/2) and
    the tab-separated covariate table keyed by FID/IID."""
    os.makedirs(out_dir, exist_ok=True)
    n, p = g.x.shape
    raw = os.path.join(out_dir, "geno.raw")
    with open(raw, "w") as f:
        f.write("FID IID PAT MAT SEX PHENOTYPE " + " ".join(f"rs{j}_A" for j in range(p)) + "\n")
        for i in range(n):
            f.write(f"F{i} I{i} 0 0 {1 + i % 2} {g.label[i] + 1} ")
            f.write(" ".join(map(str, g.x[i].tolist())) + "\n")
    cov = os.path.join(out_dir, "covars.tsv")
    with open(cov, "w") as f:
        f.write("FID\tIID\t" + "\t".join(f"COV{k + 1}" for k in range(N_COVARS)) + "\n")
        for i in range(n):
            f.write(f"F{i}\tI{i}\t" + "\t".join(f"{v:.6f}" for v in g.covars[i]) + "\n")
    return raw, cov


def residualize(x: np.ndarray, covars: np.ndarray, fit_rows: np.ndarray) -> np.ndarray:
    """Least-squares oracle for covariate adjustment: X − [1|C]·B with B
    fitted on ``fit_rows`` only (the train split) and applied to all rows."""
    design = np.column_stack([np.ones(len(covars)), covars])
    betas, *_ = np.linalg.lstsq(design[fit_rows], x[fit_rows].astype(np.float64), rcond=None)
    return x - design @ betas


# ---------------------------------------------------------------- documents

# The near-dup lanes read every table of a catalog directory, so the
# tables the dedup queries never touch are written as one-row stubs.
_STUB_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "embeddings")


@dataclass
class Corpus:
    """What the document generator planted."""

    doc_ids: np.ndarray
    texts: list[str]
    sources: list[str]
    families: list[np.ndarray]  # doc ids of each planted near-dup family


def _words(rng: np.random.Generator, vocab: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < vocab:
        k = int(rng.integers(4, 9))
        out.add("".join(rng.choice(letters, size=k)))
    return sorted(out)


def corpus(seed: int, n_unique: int, family_sizes: list[int], vocab: int = 8000) -> Corpus:
    """Unique documents plus near-duplicate families. A family is a base
    document and edited copies of it: each copy substitutes a few words
    and sometimes drops its last word, so copies differ from the base and
    from each other. Words come from a large vocabulary, so unrelated
    documents share almost no 3-word shingles."""
    rng = np.random.default_rng([seed, 3])
    words = np.array(_words(rng, vocab))
    texts: list[list[str]] = []
    fam_of: list[int] = []
    for _ in range(n_unique):
        texts.append(list(rng.choice(words, size=int(rng.integers(20, 41)))))
        fam_of.append(-1)
    for f, size in enumerate(family_sizes):
        base = list(rng.choice(words, size=int(rng.integers(30, 41))))
        for m in range(size):
            doc = list(base)
            if m:
                for pos in rng.choice(len(doc), size=int(rng.integers(1, 4)), replace=False):
                    doc[pos] = str(rng.choice(words))
                if rng.uniform() < 0.3:
                    doc = doc[:-1]
            texts.append(doc)
            fam_of.append(f)
    order = rng.permutation(len(texts))  # doc ids do not follow family order
    doc_ids = np.arange(len(texts), dtype=np.int64)
    texts_by_id = [" ".join(texts[i]) for i in order]
    fam_by_id = np.array(fam_of)[order]
    families = [doc_ids[fam_by_id == f] for f in range(len(family_sizes))]
    # edges only join documents of one source, so a family shares one
    sources = [f"src{f % 4}" if f >= 0 else f"src{i % 4}" for i, f in enumerate(fam_by_id)]
    return Corpus(doc_ids=doc_ids, texts=texts_by_id, sources=sources, families=families)


def write_catalog(c: Corpus, out_dir: str) -> str:
    """A catalog directory (``catalog.load_tables`` layout) whose
    ``documents`` table is the corpus."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table(
        {
            "doc_id": pa.array(c.doc_ids, pa.int64()),
            "text": c.texts,
            "lang": ["en"] * len(c.texts),
            "source": c.sources,
            "n_chars": pa.array([len(t) for t in c.texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    for name in _STUB_TABLES:
        pq.write_table(pa.table({"id": pa.array([0], pa.int64())}), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
