"""Added and removed lines between two commits, split into code lines and
docstring/comment lines.

Usage: python tools/line_delta.py --base REF [--head REF] [paths...]

Without ``--head`` the working tree, untracked files included, is
compared. For every file that differs under ``paths`` it prints the
added and removed code lines and docstring/comment lines, then the
totals; a binary file is listed without counts. A Python line is a
docstring/comment line when every token on it belongs to a comment or a
string statement (a docstring); blank lines count as neither. Lines of
other files count as code. Lines are matched with ``difflib``, so the
counts can differ by a line or two from ``git diff --numstat`` where a
change has several equally short diffs.
"""

from __future__ import annotations

import argparse
import difflib
import io
import os
import subprocess
import sys
import tokenize

_SKIP = {
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}
_STMT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, None}


def line_kinds(src: str) -> list[str | None]:
    """"code", "doc" or None (blank) for each line of Python ``src``."""
    lines = src.splitlines()
    kinds: list[str | None] = [None] * len(lines)
    try:
        toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    except (tokenize.TokenError, SyntaxError):
        return ["code" if line.strip() else None for line in lines]
    sig = [t for t in toks if t.type not in (tokenize.NL, tokenize.COMMENT)]
    pos = {id(t): i for i, t in enumerate(sig)}
    for tok in toks:
        if tok.type in _SKIP:
            continue
        kind = "code"
        if tok.type == tokenize.COMMENT:
            kind = "doc"
        elif tok.type == tokenize.STRING:
            i = pos[id(tok)]
            before = sig[i - 1].type if i > 0 else None
            after = sig[i + 1].type if i + 1 < len(sig) else None
            if before in _STMT_START and after in (tokenize.NEWLINE, None):
                kind = "doc"
        for ln in range(tok.start[0], min(tok.end[0], len(lines)) + 1):
            if kinds[ln - 1] != "code":
                kinds[ln - 1] = kind
    return kinds


def delta(old: str, new: str, python: bool = True) -> dict[str, int]:
    """Added/removed code and doc lines going from ``old`` to ``new``."""

    def kinds(src: str) -> list[str | None]:
        if python:
            return line_kinds(src)
        return ["code" if line.strip() else None for line in src.splitlines()]

    a, b = old.splitlines(), new.splitlines()
    ka, kb = kinds(old), kinds(new)
    out = {"code+": 0, "code-": 0, "doc+": 0, "doc-": 0}
    matcher = difflib.SequenceMatcher(None, a, b, autojunk=False)
    for op, i1, i2, j1, j2 in matcher.get_opcodes():
        if op == "equal":
            continue
        for k in ka[i1:i2]:
            if k is not None:
                out[f"{k}-"] += 1
        for k in kb[j1:j2]:
            if k is not None:
                out[f"{k}+"] += 1
    return out


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], capture_output=True, text=True, check=True
    ).stdout


def _source(ref: str | None, path: str) -> str | None:
    """Text of ``path`` at ``ref`` (the working tree when None): "" when
    the file is absent there, None when it is not UTF-8 text."""
    if ref is None:
        if not os.path.exists(path):
            return ""
        with open(path, "rb") as fh:
            raw = fh.read()
    else:
        proc = subprocess.run(
            ["git", "show", f"{ref}:{path}"], capture_output=True
        )
        if proc.returncode:
            return ""  # absent at that ref: added or deleted by the change
        raw = proc.stdout
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", default=None)
    ap.add_argument("paths", nargs="*")
    args = ap.parse_args(argv)

    os.chdir(_git("rev-parse", "--show-toplevel").strip())
    refs = [args.base] + ([args.head] if args.head else [])
    files = _git("diff", "--name-only", *refs, "--", *args.paths).split()
    if args.head is None:  # the working tree: new files are not yet tracked
        files += _git(
            "ls-files", "--others", "--exclude-standard", "--", *args.paths
        ).split()
    total = {"code+": 0, "code-": 0, "doc+": 0, "doc-": 0}
    print(f"{'file':<56} {'code +/-':>13} {'doc +/-':>13}")
    for path in files:
        old, new = _source(args.base, path), _source(args.head, path)
        if old is None or new is None:  # binary: no lines to count
            print(f"{path:<56} {'binary':>13}")
            continue
        d = delta(old, new, python=path.endswith(".py"))
        for k, v in d.items():
            total[k] += v
        print(
            f"{path:<56} {d['code+']:>6} {-d['code-']:>6} "
            f"{d['doc+']:>6} {-d['doc-']:>6}"
        )
    print(
        f"{'total':<56} {total['code+']:>6} {-total['code-']:>6} "
        f"{total['doc+']:>6} {-total['doc-']:>6}"
    )
    print(
        f"net: code {total['code+'] - total['code-']:+d}, "
        f"doc {total['doc+'] - total['doc-']:+d}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
