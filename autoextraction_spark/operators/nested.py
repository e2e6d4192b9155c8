"""P2 nested-object flattening + P4/P5 permutation-expansion training-data
generation (reference dataset/duie.py, dataset/duee.py, dataset/duee_fin.py).

All pure DataFrame expressions: the nested spo struct flattens with
``map_from_entries``; the k! permutation space is a tiny broadcast dimension
(arity, perm_id, order) joined on arity and exploded — at 100 TB this is
(corpus × small constant) narrow work, one final groupBy for the P7 dedup.
"""

from __future__ import annotations

import hashlib
import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from ..materialize import local_table

# reference sampling rule: ≥5 slots → 10 random shuffles instead of k!
# (dataset/duee_fin.py:86-100)
SAMPLE_ARITY_MIN = 5
N_SAMPLED_PERMS = 10


def flatten_spo(df: DataFrame, spo_col: str = "spo", out_col: str = "assigned") -> DataFrame:
    """P2 (dataset/duie.py:38-67; schema composition Environment.py:71-80):
    DuIE nested spo → flat slot map.

    Input column ``spo``: struct<predicate string, subject string,
    subject_type string, object map<string,string>,
    object_type map<string,string>>. Output map:
    ``{'头实体-'+subject_type: subject} ∪
    {'尾实体-'+object_type[k]: object[k] for k in object_type}``,
    with empty-string values replaced by '[None]' (duie.py:59-62).
    Distinct object roles must map to distinct object_type values (as in the
    DuIE schema); duplicate composed keys raise under Spark's default map
    dedup policy, where the reference dict would silently last-win.
    """
    spo = F.col(spo_col)

    def _fill(v: Column) -> Column:
        return F.coalesce(F.nullif(v, F.lit("")), F.lit(S.NONE_SENTINEL))

    subj_entry = F.struct(
        F.concat(F.lit("头实体-"), spo["subject_type"]).alias("key"),
        _fill(spo["subject"]).alias("value"),
    )
    obj_entries = F.transform(
        F.map_entries(spo["object_type"]),
        lambda e: F.struct(
            F.concat(F.lit("尾实体-"), e["value"]).alias("key"),
            _fill(F.element_at(spo["object"], e["key"])).alias("value"),
        ),
    )
    entries = F.concat(F.array(subj_entry), obj_entries)
    return df.withColumn(out_col, F.map_from_entries(entries))


def truncate_cond(
    df: DataFrame,
    cond_col: str = "cond",
    text_col: str = "text",
    budget: int = 512,
    out_col: str = "cond_trunc",
) -> DataFrame:
    """P6 prompt-budget truncation (dataset/duee_fin.py:92-94): drop trailing
    '；'-segments of cond while token_len(cond) + token_len(text) + 3 >
    budget. Dropping from the end one-at-a-time ≡ keeping the LARGEST prefix
    that fits (token counts are monotone in prefix length), so this is a
    pure column expression — no loop, no UDF.

    Token counting uses the BPE-ish regexp (textstats.BPE_TOKEN_RE) as the
    deterministic stand-in for the reference's HF tokenizer; with the real
    tokenizer unavailable in this environment, byte-compat holds for the
    truncation RULE, not the token counts. Floor: the first segment (the
    relation/event type) is always kept, where the reference would truncate
    into the empty string on pathological budgets.
    """
    from .textstats import BPE_TOKEN_RE

    def toks(c: Column) -> Column:
        return F.regexp_count(c, F.lit(BPE_TOKEN_RE))

    text_len = toks(F.col(text_col))
    segs = F.split(F.col(cond_col), "；")
    fits = F.filter(
        F.sequence(F.lit(1), F.size(segs)),
        lambda k: toks(F.array_join(F.slice(segs, 1, k), "；")) + text_len + 3
        <= F.lit(budget),
    )
    k_best = F.coalesce(F.array_max(fits), F.lit(1))
    return df.withColumn(out_col, F.array_join(F.slice(segs, 1, k_best), "；"))


def _sampled_order(k: int, sample_idx: int, seed: str) -> list[int]:
    """Deterministic pseudo-random order: sort slot indices by md5 — the
    reproducible stand-in for the reference's random.shuffle."""
    return sorted(
        range(k),
        key=lambda j: hashlib.md5(f"{seed}#{k}#{sample_idx}#{j}".encode()).hexdigest(),
    )


def perm_dimension(arities: list[int], n_samples: int = N_SAMPLED_PERMS,
                   seed: str = "perm") -> list[tuple[int, int, list[int]]]:
    """(arity, perm_id, order) rows: all k! orders below SAMPLE_ARITY_MIN,
    ``n_samples`` deterministic shuffles at or above it (P5,
    duee_fin.py:86-100). Dropped coverage at arity k ≥ 5 is k!-n_samples
    orders — by design; raise ``n_samples`` to widen."""
    rows: list[tuple[int, int, list[int]]] = []
    for k in sorted(set(arities)):
        if k < SAMPLE_ARITY_MIN:
            for pi, p in enumerate(itertools.permutations(range(k))):
                rows.append((k, pi, list(p)))
        else:
            seen: list[list[int]] = []
            for si in range(n_samples):
                order = _sampled_order(k, si, seed)
                if order not in seen:  # collisions vanish for k ≥ 5 (k! ≫ 10)
                    seen.append(order)
            rows.extend((k, pi, p) for pi, p in enumerate(seen))
    return rows


def permutation_examples(
    df: DataFrame,
    text_col: str = "text",
    rel_col: str = "rel",
    slots_col: str = "slots",
    assigned_col: str = "assigned",
    max_arity: int = 6,
    n_samples: int = N_SAMPLED_PERMS,
) -> DataFrame:
    """P4/P5 + P7: permutation-expanded prefix-prompt training rows.

    Reproduces dataset/duie.py:69-104 / duee.py:70-105 byte-for-byte: for
    every slot order, for every prefix position, one example
    ``(cond, text, label)`` where cond is the full-width grammar
    ``'{rel}； {slot}：{value}；… {next_slot}：'`` and label is the gold value
    or '[None]'; then the sort+adjacent-merge dedup (duee.py:92-102) as
    ``groupBy(cond, text).collect_set(label)``.

    Input: one row per gold tuple with ``slots array<string>`` (schema
    order) and ``assigned map<string,string>``. The permutation space is a
    broadcast dimension joined on arity — never computed per row.
    """
    perms = local_table(
        df.sparkSession,
        perm_dimension(list(range(1, max_arity + 1)), n_samples),
        "arity int, perm_id int, ord array<int>",
    )
    slots, assigned = F.col(slots_col), F.col(assigned_col)
    # tuples wider than max_arity would silently produce ZERO examples (no
    # matching perm-dimension row to inner-join) — fail loudly instead
    # (ADVICE.md). assert_true inside a filter costs no extra job: it
    # evaluates per row in the same scan and raises on first violation.
    arity_guard = F.assert_true(
        F.size(slots) <= max_arity,
        F.concat(
            F.lit("permutation_examples: tuple arity "),
            F.size(slots).cast("string"),
            F.lit(f" exceeds max_arity={max_arity}; raise max_arity"),
        ),
    )
    j = df.filter(arity_guard.isNull()).join(
        F.broadcast(perms), F.size(slots) == F.col("arity")
    )
    ordered = F.transform(F.col("ord"), lambda i: F.element_at(slots, i + 1))
    step = j.select(
        F.col(text_col).alias("text"),
        F.col(rel_col).alias("rel"),
        assigned.alias("_asg"),
        ordered.alias("_ordered"),
        F.explode(F.sequence(F.lit(0), F.col("arity") - 1)).alias("pos"),
    )
    val = lambda s: F.coalesce(  # noqa: E731
        F.element_at(F.col("_asg"), s), F.lit(S.NONE_SENTINEL)
    )
    prefix = F.aggregate(
        F.slice(F.col("_ordered"), 1, F.col("pos")),
        F.concat(F.col("rel"), F.lit("；")),
        lambda acc, s: F.concat(acc, F.lit(" "), s, F.lit("："), val(s), F.lit("；")),
    )
    slot_at = F.element_at(F.col("_ordered"), F.col("pos") + 1)
    cond = F.concat(prefix, F.lit(" "), slot_at, F.lit("："))
    examples = step.select(
        cond.alias("cond"), "text", val(slot_at).alias("label")
    )
    return examples.groupBy("cond", "text").agg(
        F.sort_array(F.collect_set("label")).alias("labels")
    )
