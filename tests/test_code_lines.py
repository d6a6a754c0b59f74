"""`scripts/code_lines.py`, the counter behind the code-line figures
in CHANGES.md: blank, comment and docstring lines are left out, and a
statement spanning several lines counts each of its lines."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from code_lines import code_lines  # noqa: E402

SAMPLE = '''"""Module docstring,
two lines."""

# a comment
import os  # trailing comment counts as code


def f(x):
    """One-line docstring."""

    y = (x +
         1)
    s = """a string
    that is not a docstring"""
    return y, s


class C:
    """Class
    docstring."""
    z = 1
'''


def test_code_line_rule():
    # import, def f, y = (2 lines), s = (2 lines), return, class C, z = 1
    assert code_lines(SAMPLE) == 9


def test_empty_and_comment_only():
    assert code_lines("") == 0
    assert code_lines("# only\n\n   # comments\n") == 0
