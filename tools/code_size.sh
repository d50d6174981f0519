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
#   unreached_public_defs public names of src/main that no product file calls
#   hand_codegen          `doGenCode` overrides under src/main/scala/graft: a
#                         native function is a RuntimeReplaceable whose
#                         replacement calls its one Scala kernel, so none
#                         writes Java code by hand
#
# A comment line is one whose first non-blank characters are `//`, `/*` or
# `*` (scaladoc bodies). A top-level def is one indented by exactly two
# spaces (a member of a file's top-level object); it is public unless the
# line says `private` or `protected`. An `override def` implements a trait
# member rather than adding a name, so it is not counted.
#
# A public name (for unreached_public_defs) is a top-level object, class,
# trait or case class of src/main, or a member of one: a def, val, object or
# class indented by two spaces that is neither private, protected nor an
# override. It is reached when a product file names it outside its own
# declaration. The product files are src/main, perfbench/src/main and
# tools/*.scala, with comments stripped:
#   - a type is reached when its name appears;
#   - an object member when `Owner.name` appears, when a file imports it (or
#     `Owner._`) and uses the name, or when the owner's own file uses the
#     bare name; `apply` is reached by `Owner(`;
#   - a class or trait member when `.name` appears in a file that names the
#     owner, a parent or a subclass, or when the owner's own file uses the
#     bare name.
# A bare name in another file does not count, so Spark's `split` cannot reach
# `LogPipeline.split`, nor `StringBuilder.append` a `TopicBus.append`. An
# object that defines `main` is a JVM entry point, and is reached. src/test
# does not count: a name that only tests call is unreached.
#
# Usage: tools/code_size.sh [--list-unreached | --list-defaulted] [repo-root]
#   The root defaults to the current directory. --list-unreached prints the
#   unreached names instead, one `Owner.name` or `Type` per line, sorted.
#   --list-defaulted prints the defaulted parameters, one `Owner.def.param`
#   per line, sorted.
set -euo pipefail
mode=counters
case "${1:-}" in
  --list-unreached) mode=unreached; shift ;;
  --list-defaulted) mode=defaulted; shift ;;
esac
cd "${1:-.}"

unreached() {
  python3 - <<'PY'
import glob, re

# Comments blank out (a scaladoc mention is not a call); string literals
# stay, so a class named in a config string is reached.
TOKENS = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|/\*[\s\S]*?\*/|//[^\n]*')
TYPE = re.compile(r'^((?:[\w\[\]]+\s+)*?)(object|class|trait)\s+(\w+)', re.M)
MEMBER = re.compile(r'^  ((?:[\w\[\]]+\s+)*?)(def|val|lazy val|var|object|class|trait)'
                    r'\s+(\w+)', re.M)
PARENT = re.compile(r'^(?:[\w\[\]]+\s+)*(?:class|trait|object)\s+(\w+)[^{\n]*?'
                    r'\bextends\s+(\w+)', re.M)

def strip(text):
    return TOKENS.sub(lambda m: m.group(0) if m.group(0)[0] == '"'
                      else re.sub(r'[^\n]', ' ', m.group(0)), text)

main = sorted(glob.glob('src/main/**/*.scala', recursive=True))
product = (main + sorted(glob.glob('perfbench/src/main/**/*.scala', recursive=True))
           + sorted(glob.glob('tools/*.scala')))
src = {f: strip(open(f, encoding='utf-8').read()) for f in product}

def uses(text, name):
    """Whether `name` occurs in `text` other than where it is declared."""
    return any(not re.search(r'(def|val|var|object|class|trait)\s+$',
                             text[max(0, m.start() - 20):m.start()])
               for m in re.finditer(r'\b%s\b' % re.escape(name), text))

def anywhere(pattern):
    return any(re.search(pattern, t) for t in src.values())

parents = {}
for t in src.values():
    for m in PARENT.finditer(t):
        parents.setdefault(m.group(1), set()).add(m.group(2))

def family(owner):
    return ({owner} | parents.get(owner, set())
            | {c for c, ps in parents.items() if owner in ps})

unreached = []
for f in main:
    text = src[f]
    tops = list(TYPE.finditer(text))
    for i, top in enumerate(tops):
        mods, kind, owner = top.groups()
        body = text[top.start():tops[i + 1].start() if i + 1 < len(tops) else len(text)]
        if re.search(r'\bdef main\s*\(', body):
            continue  # a JVM entry point
        if 'private' not in mods and not any(uses(t, owner) for t in src.values()):
            unreached.append(owner)
        for m in MEMBER.finditer(body):
            mmods, _, name = m.groups()
            if re.search(r'\b(private|protected|override)\b', mmods) or uses(text, name):
                continue
            if name == 'apply':
                hit = anywhere(r'\b%s\s*(\(|\.\s*apply\b)' % owner)
            elif kind == 'object':
                imported = re.compile(r'import\s+[\w.]*\b%s\.(_|\{[^}]*\b%s\b[^}]*\}|%s\b)'
                                      % (owner, name, name))
                hit = anywhere(r'\b%s\s*\.\s*%s\b' % (owner, name)) or any(
                    imported.search(t) and uses(t, name) for t in src.values())
            else:
                names = r'\b(%s)\b' % '|'.join(sorted(family(owner)))
                hit = any(re.search(r'\.\s*%s\b' % name, t) and re.search(names, t)
                          for t in src.values())
            if not hit:
                unreached.append(f'{owner}.{name}')
print('\n'.join(sorted(unreached)))
PY
}

defaulted() {
  MODE="$1" python3 - <<'PY'
import glob, os, re

# Literals collapse to "" and comments to a blank, so a default such as
# "(" or "hdfs://x" cannot unbalance the parser. A parameter is defaulted
# when it holds a top-level `=` that is not part of `=>`, `==`, `<=`, `>=`
# or `!=`. It is named `Owner.def.param` (`Owner.param` for the parameters
# of a top-level class), where Owner is the enclosing top-level type.
TOKENS = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\''
                    r'|/\*[\s\S]*?\*/|//[^\n]*')
SIG = re.compile(r'\b(?:def\s+([^\s(\[:=]+)|class\s+(\w+))')
TYPE = re.compile(r'^(?:[\w\[\]]+\s+)*?(?:object|class|trait)\s+(\w+)', re.M)
DEFAULT = re.compile(r'(?<![=<>!])=(?![=>])')
NAME = re.compile(r'^\s*(?:(?:private|protected|override|implicit|final|val|var)\s+)*(\w+)')

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

names = []
for f in sorted(glob.glob('src/main/**/*.scala', recursive=True)):
    src = TOKENS.sub(lambda m: '""' if m.group(0)[0] in '"\'' else ' ',
                     open(f, encoding='utf-8').read())
    tops = [(t.start(), t.group(1)) for t in TYPE.finditer(src)]
    for m in SIG.finditer(src):
        owner = max((t for t in tops if t[0] <= m.start()), default=(0, ''))[1]
        name = m.group(1) or m.group(2)
        prefix = owner if name == owner else f'{owner}.{name}'
        for lst in param_lists(src, m.end()):
            names += [f'{prefix}.{NAME.match(p).group(1)}'
                      for p in top_level_params(lst) if DEFAULT.search(p)]
if os.environ['MODE'] == 'list':
    print('\n'.join(sorted(names)))
else:
    print(f"defaulted_params {len(names)}")
PY
}

case "$mode" in
  unreached) unreached; exit 0 ;;
  defaulted) defaulted list; exit 0 ;;
esac

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
echo "unreached_public_defs $(unreached | grep -c . || true)"
echo "hand_codegen $(find src/main/scala/graft -name '*.scala' -print0 | xargs -0 cat |
  grep -Ev '^\s*(//|\*|/\*)' | grep -c '\bdef doGenCode\b' || true)"
defaulted counters
