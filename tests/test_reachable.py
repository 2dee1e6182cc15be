"""Reachability guard: every top-level package def has a non-test caller.

A top-level function, class or constant in ``generative_ner_spark/`` is
live if tracked Python outside ``tests/`` refers to it, from module-level
code or from inside another live def. A reference is an ``ast.Name``, an
``ast.Attribute`` attribute, or a string constant shaped like an identifier
(perfbench names the functions it wraps as strings). References from a
def's own body, or from the body of a dead def, do not count. Liveness is
iterated to a fixpoint.

The scan uses ``ast``, not ``tokenize``: the tokenizer of Python 3.11 does
not split f-strings, so a name used only inside one would look dead.

A def that is deliberately kept without a caller goes in ``KEPT`` with its
reason. The test fails on a dead def missing from ``KEPT``, and on a
``KEPT`` entry that no longer exists or has gained a caller. It runs no
Spark.
"""

from __future__ import annotations

import ast
import functools
import re
import subprocess
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "generative_ner_spark"

KEPT = {
    "operators.llm.detect_templates":
        "real-model path, run by the realllm tests",
    "operators.llm.render_chat_template":
        "real-model path, run by the realllm tests",
    "operators.llm.with_rendered_prompt":
        "real-model path, run by the realllm tests",
    "operators.llm.generate_with_model":
        "real-model path, run by the realllm tests",
    "operators.batchapi.OpenAIBatchClient":
        "the live Batch-API transport, run by the realhttp tests",
    "operators.batchapi.stub_batch_responder":
        "test fake for the Batch-API responder",
    "operators.sink.attach_predictions":
        "the reference's output-document sink (pred.py:133-150)",
    "functions.textops.remove_overlapped_offsets":
        "reference-parity port",
    "functions.textops.evaluate_span_sets":
        "reference-parity port",
    "operators.detect.prune_contained_mentions":
        "reference-parity port",
    "operators.detect.individual_label_order":
        "reference-parity port",
    "operators.demos.splice_demonstrations_collective":
        "reference-parity port",
    "operators.cost.count_fee":
        "reference-parity port",
    "sources.conll.conll_lines_to_documents":
        "kernel that read_conll_distributed is tested against",
    "operators.canonicalize.minhash_df":
        "canonicalize.py is left as it is until its job count is reworked",
    "operators.canonicalize.minhash_df_oph":
        "canonicalize.py is left as it is until its job count is reworked",
    "operators.canonicalize.with_shingles":
        "canonicalize.py is left as it is until its job count is reworked",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _tracked_sources() -> list[Path]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.split()
        paths = [ROOT / p for p in out]
    except (OSError, subprocess.CalledProcessError):
        paths = [p for p in ROOT.rglob("*.py")
                 if not any(part.startswith(".")
                            for part in p.relative_to(ROOT).parts)]
    return sorted(p for p in paths
                  if p.relative_to(ROOT).parts[0] != "tests" and p.exists())


def _defined_names(node) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [node.name]
    targets = []
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")]


def _referenced_names(node) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.fullmatch(n.value)):
            names.add(n.value)
    return names


@functools.lru_cache(maxsize=None)
def _index():
    """(bare name -> qualified package defs, [(owner, referenced names)]);
    owner is a qualified def name, or None for code that always runs."""
    defs = defaultdict(set)
    owned = []
    for path in _tracked_sources():
        rel = path.relative_to(ROOT)
        tree = ast.parse(path.read_text(), filename=str(rel))
        if rel.parts[0] != PACKAGE:
            owned.append((None, _referenced_names(tree)))
            continue
        mod = ".".join(rel.with_suffix("").parts[1:])
        for node in tree.body:
            names = _defined_names(node)
            for name in names:
                qual = f"{mod}.{name}"
                defs[name].add(qual)
                owned.append((qual, _referenced_names(node) - {name}))
            if not names:
                owned.append((None, _referenced_names(node)))
    return defs, owned


def scan(kept=()) -> tuple[set[str], set[str]]:
    """(all qualified package defs, the live ones), counting the defs
    named in ``kept`` as live."""
    defs, owned = _index()
    every = {q for quals in defs.values() for q in quals}
    live = set(kept) & every
    while True:
        grown = {q for owner, names in owned
                 if owner is None or owner in live
                 for name in names for q in defs.get(name, ())} - live
        if not grown:
            return every, live
        live |= grown


def test_every_package_def_has_a_non_test_caller():
    every, live = scan(KEPT)
    dead = sorted(every - live)
    assert not dead, (
        "package defs that only tests reach (delete them, or add a KEPT "
        f"entry with the reason): {dead}")


def test_kept_entries_exist_and_are_still_unreached():
    every, live = scan()
    missing = sorted(set(KEPT) - every)
    reached = sorted(set(KEPT) & live)
    assert not missing, f"KEPT names defs that no longer exist: {missing}"
    assert not reached, f"KEPT names defs that now have a caller: {reached}"
