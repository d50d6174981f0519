#!/usr/bin/env bash
# Print the code-size counters of the engine, one "name value" line each:
#
#   main_lines            non-blank, non-comment lines of src/main/**.scala
#   main_test_lines       the same over src/main + src/test
#   public_defs_operators public top-level defs of the graft.operators objects
#   public_defs_streaming public top-level defs of the graft.streaming objects
#   materialize_calls     `Materialize(` call sites in src/main
#   defaulted_params      parameters with a default value in the def / class
#                         signatures of src/main
#   spark_bridges         source files under src/main/scala/org/apache/spark:
#                         each one reaches into Spark internals
#
# A comment line is one whose first non-blank characters are `//`, `/*` or
# `*` (scaladoc bodies). A top-level def is one indented by exactly two
# spaces (a member of a file's top-level object); it is public unless the
# line says `private` or `protected`. An `override def` implements a trait
# member rather than adding a name, so it is not counted.
#
# Usage: tools/code_size.sh [repo-root]   (default: the current directory)
set -euo pipefail
cd "${1:-.}"

code_lines() {
  find "$@" -name '*.scala' -print0 | xargs -0 cat |
    grep -v '^\s*$' | grep -Ev '^\s*(//|\*|/\*)' | wc -l
}

public_defs() {
  cat src/main/scala/graft/"$1"/*.scala |
    grep -E '^  def ' | grep -Ev '(private|protected)' | wc -l
}

echo "main_lines $(code_lines src/main)"
echo "main_test_lines $(code_lines src/main src/test)"
echo "public_defs_operators $(public_defs operators)"
echo "public_defs_streaming $(public_defs streaming)"
echo "materialize_calls $(find src/main -name '*.scala' -print0 | xargs -0 cat |
  grep -Ev '^\s*(//|\*|/\*)' | grep -o 'Materialize(' | wc -l)"
echo "spark_bridges $(find src/main/scala/org/apache/spark -name '*.scala' | wc -l)"

python3 - <<'PY'
import glob, re

# Literals collapse to "" and comments to a blank, so a default such as
# "(" or "hdfs://x" cannot unbalance the parser. A parameter is defaulted
# when it holds a top-level `=` that is not part of `=>`, `==`, `<=`, `>=`
# or `!=`.
TOKENS = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\''
                    r'|/\*[\s\S]*?\*/|//[^\n]*')
SIG = re.compile(r'\b(?:def\s+[^\s(\[:=]+|class\s+\w+)')
DEFAULT = re.compile(r'(?<![=<>!])=(?![=>])')

def param_lists(src, i):
    """The parameter lists (type-parameter lists skipped) that follow src[i:]."""
    while True:
        while i < len(src) and src[i].isspace():
            i += 1
        if i >= len(src) or src[i] not in '([':
            return
        depth, j = 0, i
        while True:
            depth += (src[j] in '([{') - (src[j] in ')]}')
            if depth == 0:
                break
            j += 1
        if src[i] == '(':
            yield src[i + 1:j]
        i = j + 1

def top_level_params(text):
    depth, cur = 0, ['']
    for c in text:
        if c == ',' and depth == 0:
            cur.append('')
            continue
        depth += (c in '([{') - (c in ')]}')
        cur[-1] += c if depth == 0 else ' '
    return cur

total = 0
for f in sorted(glob.glob('src/main/**/*.scala', recursive=True)):
    src = TOKENS.sub(lambda m: '""' if m.group(0)[0] in '"\'' else ' ',
                     open(f, encoding='utf-8').read())
    for m in SIG.finditer(src):
        for lst in param_lists(src, m.end()):
            total += sum(1 for p in top_level_params(lst) if DEFAULT.search(p))
print(f"defaulted_params {total}")
PY
