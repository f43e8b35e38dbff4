"""Count code lines: lines holding a token other than a comment, NL, INDENT
or DEDENT, minus the line spans of module, class and function docstrings.

    python3 tools/code_lines.py FILE [FILE ...]
"""

import ast
import sys
import tokenize

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.INDENT, tokenize.DEDENT,
        tokenize.NEWLINE, tokenize.ENCODING, tokenize.ENDMARKER}
OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        tokens = list(tokenize.tokenize(f.readline))
        f.seek(0)
        tree = ast.parse(f.read())
    lines = {n for t in tokens if t.type not in SKIP
             for n in range(t.start[0], t.end[0] + 1)}
    for node in ast.walk(tree):
        if isinstance(node, OWNERS) and ast.get_docstring(node, clean=False) is not None:
            lines -= set(range(node.body[0].lineno, node.body[0].end_lineno + 1))
    return len(lines)


if __name__ == "__main__":
    counts = {p: code_lines(p) for p in sys.argv[1:]}
    for p, n in counts.items():
        print(f"{n:6d}  {p}")
    print(f"{sum(counts.values()):6d}  total")
