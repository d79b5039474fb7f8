"""mdtest doc-block sweep — the reference's SECOND golden corpus.

The reference embeds runnable examples in its language docs and CI
runs them via mdtest (reference: mdtest/mdtest.go): fenced blocks
whose info string is mdtest-input / mdtest-command / mdtest-output.
Each command block is a shell script (the same `echo ... | super
query -z -c '...' -` shape as ztest scripts), its stdout must match
the paired output block ("head" outputs are prefix matches).

This module extracts every command/output pair under
/root/reference/docs/language and runs it through the ztest script
harness. mdtest semantics: inputs and the lake working directory are
shared per FILE (mdtest.go: "a temporary directory ... shared by
other tests in the same file"), so db blocks in one file see the
pools earlier blocks created — cases run in file order and share a
lake root per file.

Declared gaps carry the same reason taxonomy as test_ztests.py.
"""

from __future__ import annotations

import glob
import os
import re
import tempfile

import pytest

from tests.test_ztests import _run_script_case

MD_ROOT = "/root/reference/docs/language"

# marked slow (round-12): the ~350-case doc-block sweep rides the
# ztest harness and the same verify-window budget; run it with
# `-m "slow or not slow"` (see pytest.ini)
pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(not os.path.isdir(MD_ROOT), reason="reference docs absent"),
]

# families (same taxonomy as test_ztests.UNSUPPORTED)
_U = "mixed-type stream beyond tagged-union dispatch [union]"
_S = "per-row shape/type identity is widened away [shape]"
_E = "residual error-value semantics beyond the carrier model [errval]"
_F = "function form beyond the engine's static-type dispatch [func]"
_SC = "shell form outside the harness script subset [script]"

# Round 7 closed every [union]/[shape]/[errval]/[func] doc gap; round
# 8 took the const-LHS op-param error. A block that prints a plan
# (`super dev compile`, `super query -C`) skips with the ztest
# harness's `_DEV` reason: the engine has no plan printer. The gap
# declared below is a genuine boundary.
MD_UNSUPPORTED: dict[str, str] = {
    "operators/from.md:7": "`from https://...` network source [script]",
}

# doc-exact dcount estimates: the reference's metro-hash HLL sketch
# (functions/hll.py) replaces the JVM HLL++ for global dcount while
# mdtests run — `seq 10000 | dcount(this)` must estimate exactly 9987
os.environ.setdefault("SPARK_GRAFT_DCOUNT_SKETCH", "1")


def _md_blocks(path: str):
    lines = open(path).read().splitlines()
    blocks = []
    i = 0
    while i < len(lines):
        m = re.match(r"^```(mdtest-\S+)(.*)$", lines[i])
        if m:
            first, info = m.group(1), (m.group(1) + m.group(2)).strip()
            body = []
            i += 1
            while i < len(lines) and not lines[i].startswith("```"):
                body.append(lines[i])
                i += 1
            blocks.append((first, info, "\n".join(body) + ("\n" if body else "")))
        i += 1
    return blocks


def _md_cases(path: str):
    inputs, cases, pending = {}, [], None
    for first, info, body in _md_blocks(path):
        if first == "mdtest-input":
            inputs[info.split()[1]] = body
        elif first in ("mdtest-command", "mdtest-spq"):
            pending = (info, body)
        elif first == "mdtest-output" and pending is not None:
            cases.append((pending[0], pending[1], info, body))
            pending = None
    return inputs, cases


def _collect():
    out = []
    for path in sorted(glob.glob(f"{MD_ROOT}/**/*.md", recursive=True)):
        inputs, cases = _md_cases(path)
        rel = os.path.relpath(path, MD_ROOT)
        for idx, (cinfo, cmd, oinfo, want) in enumerate(cases):
            out.append((f"{rel}:{idx}", inputs, cinfo, cmd, oinfo, want))
    return out

CASES = _collect()

# one shared lake root per md file (mdtest's shared working dir)
_LAKE_ROOTS: dict[str, str] = {}


@pytest.mark.parametrize(
    "tag,inputs,cinfo,cmd,oinfo,want",
    CASES,
    ids=[c[0] for c in CASES],
)
def test_mdtest_block(spark, tag, inputs, cinfo, cmd, oinfo, want):
    if tag in MD_UNSUPPORTED:
        pytest.skip(MD_UNSUPPORTED[tag])
    md_file = tag.rsplit(":", 1)[0]
    root = _LAKE_ROOTS.setdefault(
        md_file, os.path.join(tempfile.mkdtemp(prefix="mdtest_lake_"), "lake")
    )
    case = {
        "script": cmd,
        "inputs": [{"name": k, "data": v} for k, v in inputs.items()],
        "outputs": (
            [{"name": "stdout", "data": want}]
            if "head" not in oinfo.split()
            else [
                {
                    "name": "stdout",
                    "regexp": "^" + re.escape(want.split("...\n")[0]),
                }
            ]
        ),
        "__lake_root": root,
    }
    if "fails" in cinfo.split():
        try:
            _run_script_case(spark, case, tag)
        except AssertionError:
            raise
        except Exception:
            return
        raise AssertionError(f"{tag}: expected the command to fail")
    _run_script_case(spark, case, tag)
