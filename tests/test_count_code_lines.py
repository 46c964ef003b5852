"""scripts/count_code_lines.py: docstrings, comment-only lines and
blank lines are not code; a multi-line string used as a value is."""

import importlib.util
import os

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "count_code_lines.py",
)

_SRC = '''"""Module docstring
spanning two lines."""

# a comment-only line

import os  # a trailing comment does not hide the code


def f():
    """Function docstring."""
    # comment inside a body
    query = """
SELECT 1
"""
    return query


class C:
    """Class docstring
    on two lines."""

    x = 1
'''

# import os; def f(); the three lines of the query string; return;
# class C; x = 1
_WANT = 8


def _load():
    spec = importlib.util.spec_from_file_location("count_code_lines", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_code_lines_skips_docstrings_comments_and_blanks(tmp_path):
    path = tmp_path / "sample.py"
    path.write_text(_SRC)
    assert _load().code_lines(str(path)) == _WANT


def test_main_prints_per_file_counts_and_total(tmp_path, capsys, monkeypatch):
    a, b = tmp_path / "a.py", tmp_path / "b.py"
    a.write_text(_SRC)
    b.write_text("x = 1\n\n# note\n")
    monkeypatch.setattr("sys.argv", ["count_code_lines.py", str(a), str(b)])
    _load().main()
    lines = capsys.readouterr().out.splitlines()
    assert lines == [
        f"{_WANT:6d} {a}",
        f"{1:6d} {b}",
        f"{_WANT + 1:6d} total",
    ]
