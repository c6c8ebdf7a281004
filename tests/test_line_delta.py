"""tools/line_delta.py splits a change's added and removed lines into
code lines and docstring/comment lines."""

from __future__ import annotations

from tools.line_delta import _source, delta, line_kinds

OLD = '''"""Module doc."""

X = 1  # trailing comment keeps this a code line


def f(a):
    """Two-line
    docstring."""
    # a comment
    return a
'''

NEW = '''"""Module doc."""

X = 1  # trailing comment keeps this a code line


def f(a, b):
    """One-line docstring."""
    return a + b
'''


def test_line_kinds():
    assert line_kinds(OLD) == [
        "doc", None, "code", None, None, "code", "doc", "doc", "doc", "code",
    ]


def test_delta_splits_code_from_docs():
    assert delta(OLD, NEW) == {"code+": 2, "code-": 2, "doc+": 1, "doc-": 3}
    assert delta(NEW, OLD) == {"code+": 2, "code-": 2, "doc+": 3, "doc-": 1}
    assert delta("", NEW) == {"code+": 3, "code-": 0, "doc+": 2, "doc-": 0}
    assert delta("a\n", "b\n\n", python=False) == {
        "code+": 1, "code-": 1, "doc+": 0, "doc-": 0,
    }


def test_binary_file_has_no_lines(tmp_path):
    """A file that is not UTF-8 text (a golden payload) is reported as
    binary instead of failing the whole report."""
    binary, text = tmp_path / "golden.bin", tmp_path / "a.py"
    binary.write_bytes(b"\x12\xd0\x01")
    text.write_text("x = 1\n")
    assert _source(None, str(binary)) is None
    assert _source(None, str(text)) == "x = 1\n"
    assert _source(None, str(tmp_path / "missing.py")) == ""
