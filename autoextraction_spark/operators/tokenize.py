"""P9-P11 — tokenize-with-offsets pair encoding and span labeling: the
reference's training-data-generation core, Arrow-vectorized.

Reference parity (SURVEY.md §2.2):
- P9  pair-encode ``(cond, text)`` keeping ``offset_mapping`` +
  ``token_type_ids``, truncated to 512 — Environment.py:56-62,
  dataset/nyt.py:138-147. The HF fast tokenizer is replaced by a
  DETERMINISTIC offset-preserving tokenizer (alnum runs | single
  non-alnum-non-space char — so CJK tokenizes per character like BERT's
  Chinese vocab); tokens stand in for input_ids (the mapping is injective,
  so token-sequence comparison ≡ id-sequence comparison).
- P10 token-match span labeling — ``_find_pos`` subsequence search over the
  encoded ids, label only when both ends fall in the TEXT segment
  (``token_type_ids[s]*token_type_ids[e-1] == 1``): dataset/nyt.py:122-136,
  148-153. Spans are (s, e) with e EXCLUSIVE, as ``_find_pos`` returns.
- P11 char-span span labeling — gold char span → token span via the offset
  mapping: dataset/webnlg.py:114-137 (char spans from slot order),
  dataset/duee.py:136-160 (``argument_start_index``; -1 = missing → skip).
  Spans are (s, e) with e INCLUSIVE (``labels[s][e] = 1``), and the
  reference's not-found fallback (s = e = 0, i.e. labels[0][0]) is
  reproduced byte-for-byte.
- P12 pad-and-stack collate (dataset/nyt.py:185-207) has no operator: in
  Spark the natural collate IS the Arrow record batch.

Scale shape: every operator is ONE ``mapInPandas`` pass — a narrow map, no
shuffle; the per-row loop runs inside the Arrow batch (the same fused-episode
pattern slot_fill.py uses). Output rows are flat scalars so each has a
DuckDB oracle.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# alnum runs | any single non-space symbol (CJK chars tokenize per character)
TOKEN_RE = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")
# the same alternation for engines whose \s differs (DuckDB RE2 oracle);
# corpus text never contains tabs/newlines inside a sentence
TOKEN_RE_SQL = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"

CLS, SEP = "[CLS]", "[SEP]"
MAX_LEN = 512  # reference truncation, nyt.py:143-145 / Environment.py:58-60


def tokenize_with_offsets(text: str) -> list[tuple[str, int, int]]:
    """(token, char_start, char_end) per token — the offset_mapping."""
    return [(m.group(0), m.start(), m.end()) for m in TOKEN_RE.finditer(text)]


def pair_encode(
    cond: str, text: str, max_len: int = MAX_LEN
) -> list[tuple[str, int, int, int]]:
    """BERT-style pair encoding ``[CLS] cond [SEP] text [SEP]``.

    Returns (token, type_id, char_start, char_end) per position; offsets
    index into cond for segment 0 and text for segment 1, (0, 0) for special
    tokens (the HF fast-tokenizer convention). Truncated to ``max_len``
    positions AFTER encoding, like input_ids[:512] in the reference.
    """
    rows = [(CLS, 0, 0, 0)]
    rows += [(t, 0, a, b) for t, a, b in tokenize_with_offsets(cond)]
    rows.append((SEP, 0, 0, 0))
    rows += [(t, 1, a, b) for t, a, b in tokenize_with_offsets(text)]
    rows.append((SEP, 1, 0, 0))
    return rows[:max_len]


_ENC_COLS = ["pos", "token", "type_id", "tok_start", "tok_end"]


def encode_pairs(
    df: DataFrame,
    cond_col: str = "cond",
    text_col: str = "text",
    id_cols: list[str] | None = None,
    max_len: int = MAX_LEN,
) -> DataFrame:
    """P9 as a DataFrame op: one output row per encoded position.

    Output: ``id_cols + (pos, token, type_id, tok_start, tok_end)`` — the
    flattened (input_ids, token_type_ids, offset_mapping) triple.
    """
    ids = id_cols or ["url"]
    id_fields = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*ids).schema.fields
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in ids + _ENC_COLS}
            for row in pdf.itertuples(index=False):
                r = row._asdict()
                for pos, (tok, ty, a, b) in enumerate(
                    pair_encode(r[cond_col], r[text_col], max_len)
                ):
                    for c in ids:
                        out[c].append(r[c])
                    out["pos"].append(pos)
                    out["token"].append(tok)
                    out["type_id"].append(ty)
                    out["tok_start"].append(a)
                    out["tok_end"].append(b)
            yield pd.DataFrame(out)

    schema = ", ".join(
        id_fields
        + ["pos long", "token string", "type_id long", "tok_start long",
           "tok_end long"]
    )
    return df.mapInPandas(run, schema=schema)


def find_token_spans(
    entity_tokens: list[str], seq_tokens: list[str]
) -> list[tuple[int, int]]:
    """``_find_pos`` (dataset/nyt.py:122-136): every (start, end_exclusive)
    where the entity token sequence occurs in the encoded sequence."""
    k = len(entity_tokens)
    if k == 0:
        return []
    return [
        (idx, idx + k)
        for idx in range(len(seq_tokens) - k + 1)
        if seq_tokens[idx : idx + k] == entity_tokens
    ]


def label_spans_search(
    df: DataFrame,
    cond_col: str = "cond",
    text_col: str = "text",
    slots_col: str = "slots",
    id_cols: list[str] | None = None,
    max_len: int = MAX_LEN,
) -> DataFrame:
    """P10: token-subsequence span labeling over the pair encoding.

    ``slots_col``: array<struct<slot string, value string>> — the gold slot
    values to locate. For each occurrence of a value's token sequence in the
    encoding where BOTH endpoints lie in the text segment
    (``type[s]*type[e-1] == 1``, nyt.py:150-152), emits one row
    ``id_cols + (slot, value, s, e)`` with e exclusive.
    """
    ids = id_cols or ["url"]
    id_fields = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*ids).schema.fields
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in ids + ["slot", "value", "s", "e"]}
            for row in pdf.itertuples(index=False):
                r = row._asdict()
                enc = pair_encode(r[cond_col], r[text_col], max_len)
                toks = [t for t, _, _, _ in enc]
                types = [ty for _, ty, _, _ in enc]
                for sl in r[slots_col]:
                    el = [t for t, _, _ in tokenize_with_offsets(sl["value"])]
                    for s, e in find_token_spans(el, toks):
                        if types[s] * types[e - 1] != 1:
                            continue  # match strays outside the text segment
                        for c in ids:
                            out[c].append(r[c])
                        out["slot"].append(sl["slot"])
                        out["value"].append(sl["value"])
                        out["s"].append(s)
                        out["e"].append(e)
            yield pd.DataFrame(out)

    schema = ", ".join(
        id_fields + ["slot string", "value string", "s long", "e long"]
    )
    return df.mapInPandas(run, schema=schema)


def label_spans_char(
    df: DataFrame,
    cond_col: str = "cond",
    text_col: str = "text",
    spans_col: str = "spans",
    id_cols: list[str] | None = None,
    max_len: int = MAX_LEN,
) -> DataFrame:
    """P11: gold char span → token span via the offset mapping.

    ``spans_col``: array<struct<slot string, value string, start long>> —
    ``start`` is the char offset of ``value`` in the text (DuEE
    ``argument_start_index``); -1 means missing and is skipped
    (duee.py:146-148). Emits ``id_cols + (slot, value, s, e)`` with e
    INCLUSIVE; ``s`` and ``e`` fall back to 0 INDEPENDENTLY when their
    boundary misses every token edge — only the start matching yields
    (s, 0) with s non-zero, exactly the reference's ``labels[s][0]``
    lookup in example_generation (webnlg.py:125-136).
    """
    ids = id_cols or ["url"]
    id_fields = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*ids).schema.fields
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in ids + ["slot", "value", "s", "e"]}
            for row in pdf.itertuples(index=False):
                r = row._asdict()
                enc = pair_encode(r[cond_col], r[text_col], max_len)
                for sp in r[spans_col]:
                    if sp["start"] == -1:
                        continue
                    lo = int(sp["start"])
                    hi = lo + len(sp["value"])
                    s = e = 0
                    for idx, (_tok, ty, a, b) in enumerate(enc):
                        if ty == 0 or (a, b) == (0, 0):
                            continue  # cond segment / special tokens
                        if a == lo:
                            s = idx
                        if b == hi:
                            e = idx
                            break
                    for c in ids:
                        out[c].append(r[c])
                    out["slot"].append(sp["slot"])
                    out["value"].append(sp["value"])
                    out["s"].append(s)
                    out["e"].append(e)
            yield pd.DataFrame(out)

    schema = ", ".join(
        id_fields + ["slot string", "value string", "s long", "e long"]
    )
    return df.mapInPandas(run, schema=schema)
