"""Every repo path that a comment, docstring or top-level doc cites must
exist: a citation that names a deleted tool, a renamed test or a moved
evidence file sends the reader nowhere."""

import ast
import glob
import io
import os
import re
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# tools/x.py, tests/test_x.py, perfbench/x.py, evidence/X_r9.jsonl, and
# root docs/artifacts such as SCALING.md or BENCHMARK.json
_PATH = re.compile(
    r"(?<![\w/.-])(?:(?:tools|tests|perfbench|evidence)/[\w./-]*\w"
    r"|[A-Z][A-Za-z0-9_]*\.(?:md|jsonl?)\b)")
_TEMPLATE = re.compile(r"[*{<]")     # BENCH_r{N}.json, tools/*.py: patterns


def _python_prose(path):
    """Comments and docstrings of one Python file."""
    src = open(path, encoding="utf-8").read()
    out = [tok.string for tok in
           tokenize.generate_tokens(io.StringIO(src).readline)
           if tok.type == tokenize.COMMENT]
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            doc = ast.get_docstring(node, clean=False)
            if doc:
                out.append(doc)
    return out


def _sources():
    pkg = glob.glob(os.path.join(ROOT, "tradingview_data_pipeline_spark",
                                 "**", "*.py"), recursive=True)
    py = pkg + [os.path.join(ROOT, "bench.py")] \
        + glob.glob(os.path.join(ROOT, "tools", "*.py"))
    for p in py:
        yield p, "\n".join(_python_prose(p))
    for doc in ("README.md", "COVERAGE.md"):
        p = os.path.join(ROOT, doc)
        yield p, open(p, encoding="utf-8").read()


def _cited(text):
    for m in _PATH.finditer(text):
        if not _TEMPLATE.match(text, m.end()):
            yield m.group(0)


def test_every_cited_repo_path_exists():
    cited = [(os.path.relpath(src, ROOT), tok)
             for src, text in _sources() for tok in _cited(text)]
    assert len(cited) > 50             # the scan itself still finds paths
    missing = sorted(f"{src} -> {tok}" for src, tok in cited
                     if not os.path.exists(os.path.join(ROOT, tok)))
    assert not missing, "\n".join(missing)
