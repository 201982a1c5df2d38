"""No copy-pasted twins in the library.

Every file under ``dask_ms_spark/`` is reduced to its code lines: each
line stripped of surrounding whitespace, with blank lines, comment-only
lines and docstrings skipped. The test fails when any run of
``WINDOW`` consecutive code lines appears twice, in one file or across
two, so a fix to one copy cannot silently miss the other. Stdlib only;
run it alone with ``python -m pytest tests/test_no_twins.py -q``.
"""
import ast
import io
import pathlib
import tokenize

WINDOW = 6
PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "dask_ms_spark"
_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def _docstring_lines(tree):
    lines = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path):
    """``[(lineno, stripped text)]`` for every code line of ``path``."""
    src = path.read_text()
    docs = _docstring_lines(ast.parse(src))
    has_code = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        has_code.update(range(tok.start[0], tok.end[0] + 1))
    text = src.splitlines()
    return [(n, text[n - 1].strip()) for n in sorted(has_code - docs)]


def find_twins(root=PACKAGE, window=WINDOW):
    """Map each repeated window of code lines to its ``file:line`` sites."""
    seen = {}
    for path in sorted(root.rglob("*.py")):
        lines = code_lines(path)
        rel = path.relative_to(root)
        for i in range(len(lines) - window + 1):
            key = tuple(t for _, t in lines[i:i + window])
            seen.setdefault(key, []).append(f"{rel}:{lines[i][0]}")
    return {k: v for k, v in seen.items() if len(v) > 1}


def test_counter_skips_comments_blanks_and_docstrings(tmp_path):
    f = tmp_path / "m.py"
    f.write_text('"""Module doc."""\n\n# note\ndef g(x):\n'
                 '    """Doc\n    more."""\n    y = (x +\n'
                 '         1)  # trailing\n    return y\n')
    assert code_lines(f) == [(4, "def g(x):"), (7, "y = (x +"),
                             (8, "1)  # trailing"), (9, "return y")]


def test_finder_reports_a_planted_twin(tmp_path):
    body = "".join(f"    v{i} = x + {i}\n" for i in range(WINDOW))
    (tmp_path / "a.py").write_text("def f(x):\n" + body + "    return x\n")
    (tmp_path / "b.py").write_text("def g(x):\n" + body + "    return 0\n")
    twins = find_twins(tmp_path)
    assert list(twins.values()) == [["a.py:2", "b.py:2"]]


def test_library_has_no_twins():
    twins = find_twins()
    report = "\n".join(f"{' '.join(sites)}\n    " + "\n    ".join(k)
                       for k, sites in sorted(twins.items(),
                                              key=lambda kv: kv[1]))
    assert not twins, (f"{len(twins)} windows of {WINDOW} code lines "
                       f"appear more than once:\n{report}")
