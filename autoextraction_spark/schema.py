"""Shared constants: entity universe, relation schemas, templates, fact math.

Everything here is deterministic integer arithmetic on ``doc_id`` so that the
expected output of the whole pipeline is reproducible BOTH by the Spark corpus
generator (corpus.py) and by a pure-SQL DuckDB oracle (__spark_entry__.py) —
this is how the driver's correctness gate cross-checks the KG pipeline
end-to-end.

Reference parity notes:
- slot schemas: fixed two-slot ``['subject','object']`` (en) /
  ``['头实体','尾实体']`` (zh), mirroring /root/reference/Environment.py:402-405.
- cond-string grammar: ``'; slot:value'`` en, ``'； slot：value'`` zh
  (Environment.py:106-108,201-204).
- ``'[None]'`` sentinel for empty extractions (Environment.py:118-119).
"""

from __future__ import annotations

# ---------------------------------------------------------------- entities
FIRSTS = [
    "Alice", "Brian", "Clara", "David", "Elena", "Felix", "Grace", "Henry",
    "Irene", "Jonas", "Karen", "Liam", "Mona", "Noah", "Olga", "Peter",
]  # 16
LASTS = ["Stone", "Rivera", "Okafor"]  # 3  -> 48 people
ORG_BASES = [
    "Acme", "Borealis", "Cascade", "Dynamo", "Everest", "Falcon", "Gatewood",
    "Helios", "Ironwood", "Juniper", "Kestrel", "Lumina", "Meridian",
    "Nimbus", "Obsidian", "Pinnacle",
]  # 16
ORG_SUFFIXES = ["Corp", "Systems", "Labs"]  # 3 -> 48 orgs
CITIES = [
    "Amsterdam", "Bogota", "Cairo", "Denver", "Edinburgh", "Fukuoka",
    "Geneva", "Hanoi", "Istanbul", "Jakarta", "Kigali", "Lisbon", "Mumbai",
    "Nairobi", "Oslo", "Prague", "Quito", "Rome", "Seattle", "Tunis",
    "Utrecht", "Vienna", "Warsaw", "Zagreb",
]  # 24

# index p -> FIRSTS[p % 16] + ' ' + LASTS[p // 16]
PEOPLE = [f"{f} {l}" for l in LASTS for f in FIRSTS]
# index o -> ORG_BASES[o % 16] + ' ' + ORG_SUFFIXES[o // 16]
ORGS = [f"{b} {s}" for s in ORG_SUFFIXES for b in ORG_BASES]

ZH_PEOPLE = ["王伟", "李娜", "张强", "刘洋", "陈静", "杨光", "赵敏", "黄磊",
             "周杰", "吴霞", "徐涛", "孙丽"]  # 12
ZH_ORGS = ["华信集团", "远大科技", "天成实业", "宏图软件", "金桥控股", "蓝海网络",
           "启明数据", "恒安能源", "中天传媒", "绿洲生物", "红岭金融", "紫光电子"]  # 12
ZH_CITIES = ["北京", "上海", "广州", "深圳", "杭州", "成都", "武汉", "西安",
             "南京", "重庆", "天津", "苏州"]  # 12

DOMAINS = {"person": PEOPLE, "org": ORGS, "city": CITIES}
ZH_DOMAINS = {"person": ZH_PEOPLE, "org": ZH_ORGS, "city": ZH_CITIES}

# ---------------------------------------------------------------- relations
# (name, subj_type, obj_type)
RELATIONS = [
    ("works_for", "person", "org"),
    ("based_in", "org", "city"),
    ("born_in", "person", "city"),
    ("founded", "person", "org"),
    ("acquired", "org", "org"),
]
REL_NAMES = [r[0] for r in RELATIONS]
REL_SUBJ_TYPE = {r[0]: r[1] for r in RELATIONS}
REL_OBJ_TYPE = {r[0]: r[2] for r in RELATIONS}

# en templates: (connector string between subj and obj, is_primary).
# Primary connectors anchor relation detection AND unconstrained-subject
# extraction; alt connectors are only recovered by object-first decoding —
# this plants genuine order-sensitivity (data_filter.py:174-207 semantics).
EN_TEMPLATES: dict[str, list[tuple[str, bool]]] = {
    "works_for": [(" works for ", True), (" is at ", False)],
    "based_in": [(" is based in ", True), (" operates out of ", False)],
    "born_in": [(" was born in ", True)],
    "founded": [(" founded ", True), (" set up ", False)],
    "acquired": [(" acquired ", True)],
}
ZH_TEMPLATES: dict[str, list[tuple[str, bool]]] = {
    "works_for": [("任职于", True)],
    "based_in": [("位于", True)],
    "born_in": [("出生于", True)],
    "founded": [("创立了", True)],
    "acquired": [("收购了", True)],
}

EN_SLOTS = ["subject", "object"]
ZH_SLOTS = ["头实体", "尾实体"]
NONE_SENTINEL = "[None]"

# ---------------------------------------------------------------- events
# DuEE-style multi-slot event schemas (dataset/duee.py:38-64 semantics):
# one template per event type; role i is extracted by substituting assigned
# roles as literals and grouping the requested one. parts has len(roles)+1
# segments: parts[0] ROLE0 parts[1] ROLE1 parts[2] ROLE2 parts[3].
# zh event types mirror the reference's DuEE (Chinese) coverage — events are
# NOT en-only (round-1 gap, VERDICT.md item 4).
EVENTS: dict[str, dict] = {
    "hired": {
        "roles": ["employer", "employee", "city"],
        "types": ["org", "person", "city"],
        "parts": ["", " hired ", " in ", "."],
        "anchor": " hired ",
        "lang": "en",
    },
    "merger": {
        "roles": ["acquirer", "target", "city"],
        "types": ["org", "org", "city"],
        "parts": ["", " merged with ", " at ", "."],
        "anchor": " merged with ",
        "lang": "en",
    },
    # zh parts must not contain any ZH_TEMPLATES connector as a substring
    # ('位于' would plant false based_in matches) — guarded by test_schema
    "聘用": {
        "roles": ["雇主", "雇员", "城市"],
        "types": ["org", "person", "city"],
        "parts": ["", "聘用了", "，地点为", "。"],
        "anchor": "聘用了",
        "lang": "zh",
    },
    "并购": {
        "roles": ["收购方", "被收购方", "城市"],
        "types": ["org", "org", "city"],
        "parts": ["", "并购了", "，交易城市为", "。"],
        "anchor": "并购了",
        "lang": "zh",
    },
}
EVENT_NAMES = list(EVENTS)
EVENT_NAMES_BY_LANG = {
    lg: [e for e, ev in EVENTS.items() if ev["lang"] == lg] for lg in ("en", "zh")
}


def relation_anchor_rows() -> list[tuple[str, str, str, str | None]]:
    """(lang, rel, primary_anchor, alt_anchor) per relation and event type:
    the anchor set of the E1 detection gate. Both gates derive from this
    one list — ``detect.relation_anchors`` (the DataFrame gate) and the
    in-python gate of ``slot_fill.episodes_from_skeleton``."""
    rows = []
    for rel, _, _ in RELATIONS:
        en = EN_TEMPLATES[rel]
        rows.append(("en", rel, en[0][0], en[1][0] if len(en) > 1 else None))
        rows.append(("zh", rel, ZH_TEMPLATES[rel][0][0], None))
    for etype, ev in EVENTS.items():
        rows.append((ev["lang"], etype, ev["anchor"], None))
    return rows

# DuEE-fin-style ≥5-role event schema for the SAMPLED-permutation path
# (P5, dataset/duee_fin.py:86-100: k! explodes at arity 5, so 10 random
# shuffles replace the full enumeration). Deliberately NOT in EVENTS: the
# corpus event rotation (event_params) must stay unchanged — these tuples
# are synthesized from doc_id arithmetic by q_perm_examples_sampled and the
# matching oracle, never rendered into page text.
SAMPLED_EVENT_TYPE = "股权转让"
SAMPLED_EVENT_ROLES = ["受让方", "转让方", "标的公司", "交易金额", "披露日期"]


def has_event(doc_id: int, lang: str) -> bool:
    return doc_id % 4 == 1


def event_params(doc_id: int, lang: str = "en") -> tuple[str, list[int]]:
    # (doc_id-1)//4 alternates parity across event docs (doc_id%4==1, so
    # doc_id itself is always odd — a modulus of doc_id would pin one type)
    names = EVENT_NAMES_BY_LANG[lang]
    etype = names[((doc_id - 1) // 4) % len(names)]
    raws = [doc_id * 17 + 1, doc_id * 19 + 2, doc_id * 23 + 3]
    return etype, raws


def event_surfaces(doc_id: int, lang: str = "en") -> tuple[str, list[str]]:
    etype, raws = event_params(doc_id, lang)
    ev = EVENTS[etype]
    vals = [surface(lang, t, r) for t, r in zip(ev["types"], raws)]
    return etype, vals


def event_sentence(doc_id: int, lang: str = "en") -> str:
    etype, vals = event_surfaces(doc_id, lang)
    parts = EVENTS[etype]["parts"]
    out = parts[0]
    for v, p in zip(vals, parts[1:]):
        out += v + p
    return out

FILLERS = [
    "the quarterly report was filed on time.",
    "analysts expect steady growth next year.",
    "no further details were disclosed.",
    "the announcement drew little attention.",
    "markets remained calm through the week.",
    "a follow-up meeting is planned for spring.",
    "the filing cited routine operational reasons.",
    "local coverage of the story was limited.",
]

MAX_FACTS = 3
N_HOSTS = 97

# ------------------------------------------------------------- fact math
def n_facts(doc_id: int) -> int:
    return 1 + doc_id % MAX_FACTS


def fact_params(doc_id: int, i: int) -> tuple[int, int, int]:
    """(rel_idx, subj_raw, obj_raw) for fact *i* of document *doc_id*."""
    rel_idx = (doc_id * 7 + i * 3) % len(RELATIONS)
    return rel_idx, doc_id * 13 + i * 5, doc_id * 11 + i * 9


def use_alt_template(doc_id: int, i: int) -> bool:
    return (doc_id * 3 + i) % 4 == 0


def use_variant_org(doc_id: int, i: int) -> bool:
    """Render 'X Corp' as 'X Corporation' (entity-linking workload)."""
    return (doc_id + i) % 6 == 4


def surface(lang: str, ent_type: str, raw: int) -> str:
    dom = ZH_DOMAINS[ent_type] if lang == "zh" else DOMAINS[ent_type]
    return dom[raw % len(dom)]


def fact_surfaces(doc_id: int, i: int, lang: str) -> tuple[str, str, str, str]:
    """(rel_name, subj_surface, obj_surface_as_rendered, obj_canonical)."""
    rel_idx, s_raw, o_raw = fact_params(doc_id, i)
    rel, st, ot = RELATIONS[rel_idx]
    subj = surface(lang, st, s_raw)
    obj_canon = surface(lang, ot, o_raw)
    obj = obj_canon
    if (
        lang != "zh"
        and ot == "org"
        and use_variant_org(doc_id, i)
        and (o_raw % len(ORGS)) // len(ORG_BASES) == 0  # suffix == 'Corp'
    ):
        obj = ORG_BASES[o_raw % len(ORGS) % len(ORG_BASES)] + " Corporation"
    return rel, subj, obj, obj_canon


def fact_parts(doc_id: int, i: int, lang: str) -> tuple[str, str, str, str, str]:
    """(rel, subj, conn, obj, tail) — the sentence split at its entity
    boundaries. Single source of truth for fact sentences AND the gold char
    spans the span-labeling operators (P10/P11) consume: subj spans
    [0, len(subj)), obj spans [len(subj)+len(conn), +len(obj))."""
    rel, subj, obj, _ = fact_surfaces(doc_id, i, lang)
    if lang == "zh":
        conn, _ = ZH_TEMPLATES[rel][0]
        return rel, subj, conn, obj, "。"
    templates = EN_TEMPLATES[rel]
    conn, _ = (
        templates[1] if len(templates) > 1 and use_alt_template(doc_id, i) else templates[0]
    )
    return rel, subj, conn, obj, "."


def fact_sentence(doc_id: int, i: int, lang: str) -> str:
    _, subj, conn, obj, tail = fact_parts(doc_id, i, lang)
    return f"{subj}{conn}{obj}{tail}"


def doc_lang(src_lang: str) -> str:
    """Map the driver documents table's lang to our template grammar."""
    return "zh" if src_lang == "zh" else "en"


def host_id(doc_id: int) -> int:
    """Skewed host assignment: 1 in 5 pages lands on host 0."""
    return 0 if doc_id % 5 == 0 else doc_id % N_HOSTS


def page_url(doc_id: int) -> str:
    return f"https://site{host_id(doc_id)}.example.com/page/{doc_id}"


def gold_facts(doc_id: int, lang: str) -> list[tuple[str, str, str, str]]:
    """All (rel, subj, obj_rendered, obj_canonical) facts of a document."""
    return [fact_surfaces(doc_id, i, lang) for i in range(n_facts(doc_id))]
