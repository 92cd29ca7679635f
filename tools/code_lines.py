"""Count the code lines of Python files: lines holding a non-comment
token that are not inside a module, class or function docstring and not
part of an import statement. Blank and comment-only lines never count.

    python3 tools/code_lines.py bharatmlstack_spark/streaming/*.py
"""

import ast
import io
import sys
import tokenize

_SKIP_TOKENS = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    skipped: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        spans = []
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            spans.append(node)
        elif isinstance(node, _DOC_OWNERS) and ast.get_docstring(node, clean=False) is not None:
            spans.append(node.body[0])
        for span in spans:
            skipped.update(range(span.lineno, span.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP_TOKENS:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - skipped)


if __name__ == "__main__":
    total = 0
    for path in sys.argv[1:]:
        with open(path) as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
