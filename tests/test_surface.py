"""Guard: the library exports no name that only tests call.

Every top-level public ``def`` or ``class`` under ``autoextraction_spark/``
must be referenced, as a whole word, from a non-test source other than its
own defining line: the library itself, ``__spark_entry__.py``, ``bench.py``,
``scripts/`` or ``perfbench/``. A name that only its own test reaches is
dead surface: it is hashed into ``KgPipeline``'s resume fingerprint and
kept in tier-1 without any query, operator, runner or script needing it.

``autoextraction_spark/streaming/`` is exempt: its entry points are the
micro-batch API that a caller's streaming query drives, so by design no
code in this repository calls them except the tests.
"""

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "autoextraction_spark"


def _non_test_sources():
    for top in ("autoextraction_spark", "scripts", "perfbench"):
        for path in sorted((ROOT / top).rglob("*.py")):
            if "tests" not in path.relative_to(ROOT).parts:
                yield path
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"


def test_every_public_library_name_has_a_caller():
    words: Counter = Counter()
    for path in _non_test_sources():
        words.update(re.findall(r"\w+", path.read_text()))
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        if "streaming" in path.relative_to(PKG).parts:
            continue
        lines = path.read_text().splitlines()
        for node in ast.parse("\n".join(lines)).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            on_def_line = re.findall(rf"\b{node.name}\b", lines[node.lineno - 1])
            if words[node.name] == len(on_def_line):
                unused.append(f"{path.relative_to(ROOT)}:{node.name}")
    assert unused == []
