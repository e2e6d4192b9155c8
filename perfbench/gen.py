"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes the same rows, different seeds write different ones. The library
under test only ever receives the directory a generator wrote. Each
generator also returns the measured properties of what it wrote, so a run
records which side of every size-selected code path its input sits on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from autoextraction_spark.schema import RELATIONS

#: source languages of the documents table; the pipeline folds every
#: non-``zh`` language onto its English grammar
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.45, 0.15, 0.14, 0.13, 0.13]

#: consonant-vowel syllables; fixed-length tokens built from them can only be
#: prefix-related when equal, so no two generated names are accidental
#: abbreviation variants of each other
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]

ORG_SUFFIXES = ["Corp", "Labs", "Systems"]
VARIANT_SUFFIX = "Corporation"


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _token(k: int, n_syl: int) -> str:
    """The k-th fixed-length pseudo-word (``n_syl`` syllables)."""
    out = []
    for _ in range(n_syl):
        k, r = divmod(k, len(_SYLLABLES))
        out.append(_SYLLABLES[r])
    return "".join(out)


def _tokens(rng: np.random.Generator, n: int, n_syl: int) -> list[str]:
    """``n`` distinct capitalized pseudo-words, drawn without replacement."""
    ks = rng.choice(len(_SYLLABLES) ** n_syl, size=n, replace=False)
    return [_token(int(k), n_syl).capitalize() for k in ks]


def _sparse_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Strictly increasing doc ids with random gaps of 1-7."""
    return int(rng.integers(0, 1000)) + np.cumsum(rng.integers(1, 8, n))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _lang_shares(langs: np.ndarray) -> dict[str, float]:
    values, counts = np.unique(langs, return_counts=True)
    return {str(v): round(int(c) / len(langs), 4) for v, c in zip(values, counts)}


def documents(
    out_dir: str,
    seed: int,
    n_docs: int,
    near_dup_share: float = 0.1,
    vocab: int = 5000,
) -> dict:
    """``documents.parquet`` (doc_id, text, lang): sparse ids and about 15%
    ``zh``, the skeleton the extraction pipeline generates its pages from;
    the text is Zipf-ish words over a pseudo-word vocabulary, with a planted
    share of near-duplicates — copies of an earlier document with one or two
    words replaced."""
    rng = _rng(seed, 2)
    words = np.array(_tokens(rng, vocab, 3), dtype=object)
    weights = 1.0 / np.arange(1, vocab + 1) ** 0.8
    weights /= weights.sum()
    lengths = rng.integers(30, 90, n_docs)
    drawn = words[rng.choice(vocab, size=int(lengths.sum()), p=weights)]
    bodies = np.split(drawn, np.cumsum(lengths)[:-1])
    n_dups = int(round(near_dup_share * n_docs))
    dup_rows = np.sort(rng.choice(np.arange(1, n_docs), size=n_dups, replace=False))
    for i in dup_rows:
        body = bodies[int(rng.integers(0, i))].copy()
        for _ in range(int(rng.integers(1, 3))):
            body[int(rng.integers(0, len(body)))] = words[int(rng.integers(0, vocab))]
        bodies[i] = body
    text = [" ".join(b) for b in bodies]
    doc_id = _sparse_ids(rng, n_docs)
    lang = rng.choice(LANGS, size=n_docs, p=LANG_P)
    _write(
        pa.table({
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": text,
            "lang": lang,
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    return {
        "docs": n_docs,
        "lang_share": _lang_shares(lang),
        "near_dup_share": round(n_dups / n_docs, 4),
        "mean_words": round(float(np.mean([len(b) for b in bodies])), 2),
    }


def _zipf_index(rng: np.random.Generator, pool: int, n: int, a: float) -> np.ndarray:
    """``n`` draws from ``range(pool)`` with P(k) ∝ 1/(k+1)^a."""
    w = 1.0 / np.arange(1, pool + 1) ** a
    return rng.choice(pool, size=n, p=w / w.sum())


def triple_table(
    out_dir: str,
    seed: int,
    n_triples: int,
    n_persons: int,
    n_orgs: int,
    n_cities: int,
    variant_share: float = 0.3,
    zipf_a: float = 1.1,
) -> tuple[dict, dict[str, str]]:
    """``triples.parquet`` (url, pred, subj, obj) over generated entity pools.

    Subjects are Zipf-skewed; objects are uniform. A ``variant_share`` of the
    ``X Corp`` organizations is also rendered as ``X Corporation`` in half of
    its object positions — the planted variant groups entity linking must
    merge. Returns the measured properties and the planted mapping
    (variant mention → canonical mention) restricted to groups whose
    canonical form also occurs in the table."""
    rng = _rng(seed, 3)
    firsts, lasts = _tokens(rng, 400, 3), _tokens(rng, 400, 3)
    pool_people = rng.choice(len(firsts) * len(lasts), size=n_persons, replace=False)
    people = [f"{firsts[k % 400]} {lasts[k // 400]}" for k in pool_people]
    bases = _tokens(rng, n_orgs, 4)
    suffix = rng.integers(0, len(ORG_SUFFIXES), n_orgs)
    orgs = [f"{b} {ORG_SUFFIXES[s]}" for b, s in zip(bases, suffix)]
    has_variant = (suffix == 0) & (rng.random(n_orgs) < variant_share)
    cities = _tokens(rng, n_cities, 4)
    pools = {"person": people, "org": orgs, "city": cities}

    rel_idx = rng.integers(0, len(RELATIONS), n_triples)
    subj, obj = [], []
    subj_draw = {
        t: iter(_zipf_index(rng, len(pools[t]), n_triples, zipf_a).tolist())
        for t in ("person", "org")
    }
    for r in rel_idx.tolist():
        _, st, ot = RELATIONS[r]
        subj.append(pools[st][next(subj_draw[st])])
        k = int(rng.integers(0, len(pools[ot])))
        if ot == "org" and has_variant[k] and rng.random() < 0.5:
            obj.append(f"{bases[k]} {VARIANT_SUFFIX}")
        else:
            obj.append(pools[ot][k])
    url = [f"https://kg{i % 97}.example.com/doc/{i // 3}" for i in range(n_triples)]
    pred = [RELATIONS[r][0] for r in rel_idx.tolist()]
    _write(
        pa.table({"url": url, "pred": pred, "subj": subj, "obj": obj}),
        os.path.join(out_dir, "triples.parquet"),
    )

    org_mentions = {s for s, r in zip(subj, rel_idx.tolist()) if RELATIONS[r][1] == "org"}
    org_mentions |= {o for o, r in zip(obj, rel_idx.tolist()) if RELATIONS[r][2] == "org"}
    planted = {
        m: m[: -len(VARIANT_SUFFIX)] + ORG_SUFFIXES[0]
        for m in org_mentions
        if m.endswith(" " + VARIANT_SUFFIX)
    }
    mapping = {v: c for v, c in planted.items() if c in org_mentions}
    return (
        {
            "triples": n_triples,
            "planted_variants": len(planted),
            "linked_variants": len(mapping),
        },
        mapping,
    )
