"""scripts/code_lines.py counts code lines: blank, comment-only and
docstring lines are left out, everything else counts once per line. No
Spark needed."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import code_lines  # noqa: E402

FIXTURE = '''"""Module docstring,
over two lines."""

import os  # a trailing comment does not hide code

# a comment line


class C:
    """Class docstring."""

    x = 1


def f(a):
    """Function docstring
    over two lines.
    """
    s = """a string that is
    not a docstring"""
    return (a,
            s)
'''


def test_counts_only_code_lines(tmp_path, capsys):
    # code: import, class, x = 1, def, the 2-line string, return (2 lines)
    assert code_lines.count_source(FIXTURE) == 8
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "a.py").write_text(FIXTURE)
    (pkg / "sub" / "b.py").write_text("# only a comment\n\nx = 1\n")
    (pkg / "notes.txt").write_text("x = 1\n")
    assert code_lines.count_tree(str(pkg)) == {
        "a.py": 8,
        os.path.join("sub", "b.py"): 1,
    }
    assert code_lines.main([str(pkg)]) == 0
    assert capsys.readouterr().out == (
        f"      8 a.py\n      1 {os.path.join('sub', 'b.py')}\n9\n"
    )
