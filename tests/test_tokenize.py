"""P9-P11 tokenize/span-label operator tests (reference semantics:
dataset/nyt.py:122-153, webnlg.py:114-137, duee.py:136-160).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from autoextraction_spark.operators import tokenize


def test_tokenizer_offsets_roundtrip():
    text = "Acme Corp. hired Alice Stone, in 2024!"
    toks = tokenize.tokenize_with_offsets(text)
    assert [t for t, _, _ in toks] == [
        "Acme", "Corp", ".", "hired", "Alice", "Stone", ",", "in", "2024", "!"
    ]
    # offsets slice back to the token — the offset_mapping invariant
    for t, a, b in toks:
        assert text[a:b] == t


def test_tokenizer_cjk_per_char():
    toks = tokenize.tokenize_with_offsets("王伟任职于华信集团。")
    assert [t for t, _, _ in toks] == list("王伟任职于华信集团。")


def test_pair_encode_layout_and_truncation():
    enc = tokenize.pair_encode("works_for", "Alice Stone works for Acme Corp.")
    toks = [t for t, _, _, _ in enc]
    types = [ty for _, ty, _, _ in enc]
    assert toks[0] == "[CLS]" and toks[4] == "[SEP]"
    assert toks[1:4] == ["works", "_", "for"]
    assert types[:5] == [0, 0, 0, 0, 0] and set(types[5:]) == {1}
    assert toks[-1] == "[SEP]"
    # specials carry (0, 0) offsets
    assert enc[0][2:] == (0, 0) and enc[4][2:] == (0, 0)
    # truncation cuts AFTER encoding, like input_ids[:512]
    long = tokenize.pair_encode("c", "w " * 600, max_len=512)
    assert len(long) == 512 and long[-1][0] == "w"


def test_find_token_spans_multiple_occurrences():
    seq = ["Acme", "Corp", "acquired", "Acme", "Corp", "."]
    assert tokenize.find_token_spans(["Acme", "Corp"], seq) == [(0, 2), (3, 5)]
    assert tokenize.find_token_spans(["Corp", "."], seq) == [(4, 6)]
    assert tokenize.find_token_spans([], seq) == []


def test_label_spans_search_type_gate(spark):
    # the slot value also appears in the COND segment; only the text-segment
    # match may be labeled (token_type gate, nyt.py:150-152)
    df = spark.createDataFrame(
        [("q", "Alice Stone", "Alice Stone works here .")],
        "url string, cond string, text string",
    ).withColumn(
        "slots",
        F.array(F.struct(F.lit("subj").alias("slot"), F.lit("Alice Stone").alias("value"))),
    )
    rows = tokenize.label_spans_search(df, id_cols=["url"]).collect()
    assert len(rows) == 1
    r = rows[0]
    # encoding: [CLS] Alice Stone [SEP] Alice Stone works here . [SEP]
    assert (r.s, r.e) == (4, 6)


def test_label_spans_char_matches_and_quirks(spark):
    text = "Alice Stone works for Acme Corp."
    spans = [
        ("subj", "Alice Stone", 0),
        ("obj", "Acme Corp", 22),
        ("missing", "Bob", -1),          # duee -1 → skipped
        ("bogus", "Zzz", 3),             # no token boundary match → (0, 0)
    ]
    df = spark.createDataFrame(
        [("u", "works_for", text)], "url string, cond string, text string"
    ).withColumn(
        "spans",
        F.array(*[
            F.struct(F.lit(s).alias("slot"), F.lit(v).alias("value"),
                     F.lit(st).cast("long").alias("start"))
            for s, v, st in spans
        ]),
    )
    got = {r.slot: (r.s, r.e) for r in
           tokenize.label_spans_char(df, id_cols=["url"]).collect()}
    # encoding: [CLS] works _ for [SEP] Alice Stone works for Acme Corp . [SEP]
    #            0     1    2 3    4    5     6     7     8   9    10   11
    assert got["subj"] == (5, 6)
    assert got["obj"] == (9, 10)
    assert "missing" not in got
    assert got["bogus"] == (0, 0)  # reference labels[0][0] fallback


def test_search_and_char_agree_on_gold_tuples(spark, sf_dir):
    # on the synthetic gold tuples, char-anchored spans must be a subset of
    # search hits (converted to inclusive e)
    from autoextraction_spark import corpus

    t = corpus.gold_fact_tuples(spark, sf_dir).limit(200).cache()
    slots = F.array(
        F.struct(F.lit("subj").alias("slot"), F.col("subj").alias("value")),
        F.struct(F.lit("obj").alias("slot"), F.col("obj").alias("value")),
    )
    spans = F.array(
        F.struct(F.lit("subj").alias("slot"), F.col("subj").alias("value"),
                 F.col("subj_start").alias("start")),
        F.struct(F.lit("obj").alias("slot"), F.col("obj").alias("value"),
                 F.col("obj_start").alias("start")),
    )
    inp = t.select("url", "i", F.col("rel").alias("cond"),
                   F.col("sentence").alias("text"), slots.alias("slots"),
                   spans.alias("spans"))
    search = {
        (r.url, r.i, r.slot, r.s, r.e - 1)
        for r in tokenize.label_spans_search(inp, id_cols=["url", "i"]).collect()
    }
    char = {
        (r.url, r.i, r.slot, r.s, r.e)
        for r in tokenize.label_spans_char(inp, id_cols=["url", "i"]).collect()
    }
    assert char and char <= search
    t.unpersist()


def test_encode_pairs_dataframe(spark):
    df = spark.createDataFrame(
        [(7, "language en", "alpha beta")], "doc_id long, cond string, text string"
    )
    rows = sorted(
        tokenize.encode_pairs(df, id_cols=["doc_id"]).collect(),
        key=lambda r: r.pos,
    )
    assert [r.token for r in rows] == [
        "[CLS]", "language", "en", "[SEP]", "alpha", "beta", "[SEP]"
    ]
    assert [r.type_id for r in rows] == [0, 0, 0, 0, 1, 1, 1]
    assert (rows[4].tok_start, rows[4].tok_end) == (0, 5)
    assert (rows[5].tok_start, rows[5].tok_end) == (6, 10)


def test_hf_tokenizer_parity_skip_if_absent():
    """Parity contract vs BertTokenizerFast (ref Environment.py:56-62) — the
    stand-in tokenizer is deliberately NOT WordPiece, so the asserted
    equivalences are the ones the span-labeling operators depend on:

    - pair layout ``[CLS] cond [SEP] text [SEP]`` with specials mapped to
      offset (0, 0) and the same token_type_ids segmentation;
    - for every HF token that is a WHOLE word (no ## continuation follows)
      or a single CJK char / punctuation mark, the (type_id, char_start,
      char_end) triple must also be produced by pair_encode — offsets
      diverge only inside subword splits, which _find_pos/span labeling
      never rely on.

    Skips (with reason) until transformers + a BERT vocab are available in
    the environment; the day they appear, any semantic drift is caught.
    """
    import re as _re

    import pytest as _pytest

    try:
        from transformers import BertTokenizerFast  # type: ignore

        hf = BertTokenizerFast.from_pretrained("bert-base-multilingual-cased")
    except Exception as exc:  # ImportError or offline vocab fetch failure
        _pytest.skip(f"transformers/BERT vocab unavailable: {exc}")

    cond = "works_for; subject:Alice Stone; object:Acme Corp"
    text = "Alice Stone works for Acme Corp. 王伟任职于华信集团。"
    enc = hf(
        cond, text, return_offsets_mapping=True,
        return_token_type_ids=True, truncation=True, max_length=512,
    )
    hf_tokens = hf.convert_ids_to_tokens(enc["input_ids"])
    ours = tokenize.pair_encode(cond, text)

    assert ours[0][0] == "[CLS]" and hf_tokens[0] == "[CLS]"
    assert [t for t, *_ in ours].count("[SEP]") == hf_tokens.count("[SEP]") == 2
    # segment 1 ends both encodings
    assert ours[-1] == ("[SEP]", 1, 0, 0)
    assert enc["token_type_ids"][-1] == 1

    our_spans = {
        (ty, a, b) for t, ty, a, b in ours if t not in ("[CLS]", "[SEP]")
    }
    items = list(zip(hf_tokens, enc["token_type_ids"], enc["offset_mapping"]))
    for i, (tk, ty, (a, b)) in enumerate(items):
        if tk in ("[CLS]", "[SEP]", "[UNK]") or tk.startswith("##"):
            continue
        nxt = items[i + 1][0] if i + 1 < len(items) else ""
        if nxt.startswith("##"):
            continue  # subword split: offsets legitimately differ
        src = cond if ty == 0 else text
        piece = src[a:b]
        whole_alnum = _re.fullmatch(r"[A-Za-z0-9]+", piece)
        single_sym = len(piece) == 1 and not piece.isspace() and not whole_alnum
        if whole_alnum or single_sym:
            assert (ty, a, b) in our_spans, (tk, ty, a, b, piece)
