"""Generated docs must match their generators. The numbers quoted in
BASELINE.md / SURVEY.md must be mechanically derived from the bench
artifact of record (round-8 verdict item 3 — three rounds in a row a
hand-edited figure disagreed with the recorded BENCH_rNN.json):
`tools/render_baseline.py --check` re-renders the marker blocks in
memory and fails if the committed docs differ. OPERATORS.md must be
exactly what `tools/operator_index.py` prints for the registry."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_docs_match_bench_artifact():
    proc = subprocess.run(
        [sys.executable, "tools/render_baseline.py", "--check"],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_operator_index_matches_registry():
    proc = subprocess.run(
        [sys.executable, "tools/operator_index.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr
    with open(os.path.join(ROOT, "OPERATORS.md")) as f:
        committed = f.read()
    assert proc.stdout == committed, (
        "OPERATORS.md is stale: run python tools/operator_index.py"
        " > OPERATORS.md"
    )
