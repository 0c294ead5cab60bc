"""Seeded inputs for the benchmark workloads.

Each workload's inputs are generated from ``--seed`` alone and written once
per (seed, scale) under ``perfbench/.data/``; later runs with the same seed
reuse the files.  Generation is never timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per scale.  "full" is what BENCHMARK.json measures; "tiny" is the
# smoke test's size.
SIZES = {
    "full": {
        "knn": dict(n=1000, dim=64, clusters=64, labels=8, queries=512, batch=200, batches=3),
        "docs": dict(base=1000, families=150),
    },
    "tiny": {
        "knn": dict(n=600, dim=16, clusters=8, labels=8, queries=64, batch=50, batches=2),
        "docs": dict(base=200, families=20),
    },
}

QUERY_NOISE = 0.05

CONTENT = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row key "
    "agg query scan batch"
).split()
STOP = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "et", "les", "des", "est", "une", "dans", "pour"),
}
JUNK = ("@@", "##", "$$", "%%", "&&", "**", "~~", "^^")


def _vectors(rng: np.random.Generator, n: int, dim: int, clusters: int, labels: int):
    centers = (rng.standard_normal((clusters, dim)) * 3.0).astype(np.float32)
    assign = rng.integers(0, clusters, n)
    x = centers[assign] + rng.standard_normal((n, dim)).astype(np.float32)
    return x.astype(np.float32), rng.integers(0, labels, n).astype(np.int32)


def _vector_table(x: np.ndarray, label: np.ndarray, first_vid: int) -> pa.Table:
    n, dim = x.shape
    feature = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim)
    return pa.table(
        {
            "vid": pa.array(np.arange(first_vid, first_vid + n), pa.int64()),
            "label": pa.array(label),
            "feature": feature.cast(pa.list_(pa.float32())),
        }
    )


def _doc(rng: np.random.Generator, lang: str, n_tok: int) -> list[str]:
    if lang == "junk":
        return list(rng.choice(JUNK, n_tok))
    stop = STOP[lang]
    return [
        str(rng.choice(stop)) if rng.random() < 0.25 else str(rng.choice(CONTENT))
        for _ in range(n_tok)
    ]


def _near_copy(rng: np.random.Generator, toks: list[str]) -> list[str]:
    """A copy with one small token edit per 30 tokens (substitute, insert or
    delete), which keeps its 8-char-shingle Jaccard to the original near 0.9."""
    out = list(toks)
    for _ in range(max(1, len(toks) // 30)):
        pos = int(rng.integers(0, len(out)))
        op = rng.integers(0, 3)
        if op == 0:
            out[pos] = str(rng.choice(CONTENT))
        elif op == 1:
            out.insert(pos, str(rng.choice(CONTENT)))
        else:
            del out[pos]
    return out


def make_knn(rng: np.random.Generator, out: str, n, dim, clusters, labels, queries, batch, batches) -> None:
    """The corpus, the query vectors (noisy copies of corpus rows) and the
    insert batches that follow the corpus."""
    x, label = _vectors(rng, n + batch * batches, dim, clusters, labels)
    pq.write_table(_vector_table(x[:n], label[:n], 0), os.path.join(out, "corpus.parquet"))
    for b in range(batches):
        lo = n + b * batch
        pq.write_table(
            _vector_table(x[lo : lo + batch], label[lo : lo + batch], lo),
            os.path.join(out, f"batch{b}.parquet"),
        )
    src = rng.integers(0, n, queries)
    q = x[src] + rng.standard_normal((queries, dim)).astype(np.float32) * QUERY_NOISE
    np.save(os.path.join(out, "x.npy"), x)
    np.save(os.path.join(out, "label.npy"), label)
    np.save(os.path.join(out, "queries.npy"), q.astype(np.float32))


def make_docs(rng: np.random.Generator, out: str, base, families) -> None:
    langs = rng.choice(["en", "de", "fr", "junk"], base, p=[0.8, 0.08, 0.08, 0.04])
    texts = [_doc(rng, str(lg), int(rng.integers(10, 101))) for lg in langs]
    # family roots: English documents long enough to pass the token gate
    # after an edit; each gets one or two near-duplicate copies
    roots = [i for i, lg in enumerate(langs) if lg == "en" and len(texts[i]) >= 40]
    roots = [int(r) for r in rng.choice(roots, families, replace=False)]
    fam_of = {r: [r] for r in roots}
    for r in roots:
        for _ in range(int(rng.integers(1, 3))):
            fam_of[r].append(len(texts))
            texts.append(_near_copy(rng, texts[r]))
    perm = rng.permutation(len(texts))  # doc_id of text i is perm[i]
    order = np.argsort(perm)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
                "text": pa.array([" ".join(texts[i]) for i in order]),
            }
        ),
        os.path.join(out, "docs.parquet"),
    )
    fams = [[int(perm[i]) for i in members] for members in fam_of.values()]
    with open(os.path.join(out, "families.json"), "w") as f:
        json.dump(fams, f)


MAKERS = {"knn": make_knn, "docs": make_docs}


@dataclass(frozen=True)
class Inputs:
    dir: str
    sizes: dict


def inputs(kind: str, seed: int, scale: str, cache_root: str) -> Inputs:
    """Generate (once) and return the ``kind`` inputs for ``seed``."""
    sizes = SIZES[scale][kind]
    key = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:10]
    out = os.path.join(cache_root, f"{kind}-{key}-seed{seed}")
    if not os.path.isfile(os.path.join(out, "DONE")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # each input kind draws from its own stream of the seed
        rng = np.random.default_rng([seed, sorted(MAKERS).index(kind)])
        MAKERS[kind](rng, tmp, **sizes)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return Inputs(out, sizes)
