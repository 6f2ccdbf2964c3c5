#!/usr/bin/env python3
"""List every `def` in src/main that nothing in src/main or perfbench/harness
calls, with how many times the tests name it.

Usage: python3 tools/unused_defs.py [repo_root]

Comments are stripped before counting. A string literal counts only where
it calls the name (`name(`: a SQL string may call a registered function),
and never in the file that defines the name, so an error message that
names its own def does not hide it. A call written `Object.name` counts
only for the def in that object, so `ConnectServe.publish` does not hide
`SnapshotStore.publish`. Any other occurrence counts for every def of that
name, so the census is otherwise by name: a name defined twice and called
once without a qualifier, a self-recursive def, or a def only reached
through a named argument of the same name can hide from it. `override`
defs and `main(args` entry points are skipped (the framework or the JVM
calls them).

Defs listed in KEPT are references kept on purpose; they print in their own
block, after the candidates, with the reason they stay.
"""
import re
import sys
from collections import Counter
from pathlib import Path

TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|'
                   r"'(?:\\.|[^'\\\n])'|//[^\n]*|/\*[\s\S]*?\*/")
DEF = re.compile(r'^(?P<pre>[^\n]*?)\bdef\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)', re.M)
WORD = re.compile(r'[A-Za-z_][A-Za-z0-9_]*')
DEF_SITE = re.compile(r'\bdef\s+$')
QUALIFIER = re.compile(r'\b(?P<qual>[A-Za-z_][A-Za-z0-9_]*)\s*\.\s*$')
CALL = re.compile(r'\b(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*\(')
DECL = re.compile(r'^(?P<indent> *)(?:[\w\[\]]+\s+)*(?:object|class|trait)\s+'
                  r'(?P<name>[A-Za-z_][A-Za-z0-9_]*)', re.M)
OBJECT = re.compile(r'\bobject\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)')
INTERPOLATION = re.compile(r'\$\{(?:[^{}]|\{[^{}]*\})*\}|\$[A-Za-z_][A-Za-z0-9_]*')

_DQ = 'per-check reference that DqChecksSpec compares the one-pass gate against'
_DBT = 'single-test reference that DbtStyleTestsSpec compares the one-pass suite against'
_HOF = 'built-in-function chain the native expression must match (Tokens/ShinglesExprSpec)'
_KAFKA = "the reference's transport (Kafka); the pipeline drains files instead"
# File stem + def name -> why the def stays without a production caller.
KEPT = {
    'DqChecks.nullIds': _DQ,
    'DqChecks.badWeights': _DQ,
    'DqChecks.malformedTimestamps': _DQ,
    'DqChecks.invalidStatuses': _DQ,
    'DqChecks.outOfBoundsCoords': _DQ,
    'DqChecks.duplicateEventIds': _DQ,
    'DqChecks.badDeliveryDates': _DQ,
    'DbtStyleTests.notNull': _DBT,
    'DbtStyleTests.acceptedValues': _DBT,
    'DbtStyleTests.unique': _DBT,
    'DbtStyleTests.relationships': _DBT,
    'TextAnalysis.tokensHof': _HOF,
    'Dedup.shinglesOfTokensHof': _HOF,
    'EventStreamIngest.fromKafka': _KAFKA,
    'EventStreamIngest.toKafkaSink': _KAFKA,
    'LmScore.scoreExploded': 'the semantic reference for fused scoring (LmScoreSpec)',
    'NaiveBayes.evidenceSums':
        'the bit-equality test hook (NaiveBayesSpec, LmExpressionsPropertySpec)',
}


def split_source(src):
    """(code with comments and string literals blanked, the string literals).
    The `${...}` and `$name` parts of an interpolated string stay code."""
    strings = []

    def blank(m):
        tok = m.group(0)
        if tok.startswith("'"):
            return ' ' * len(tok)
        if not tok.startswith('"'):
            return '\n' * tok.count('\n')
        interpolated = m.start() > 0 and (src[m.start() - 1].isalnum()
                                          or src[m.start() - 1] == '_')
        code = [' '] * len(tok)
        if interpolated:
            for part in INTERPOLATION.finditer(tok):
                code[part.start():part.end()] = part.group(0)
            tok = INTERPOLATION.sub(' ', tok)
        strings.append(tok)
        return ''.join(code)
    return TOKEN.sub(blank, src), strings


def sources(*dirs):
    return {p: split_source(p.read_text(encoding='utf-8'))
            for d in dirs for p in sorted(Path(d).rglob('*.scala'))}


def owner_at(code, pos):
    """The object/class/trait enclosing `pos`: the last one declared before it
    at a smaller indent than the line at `pos`."""
    line_start = code.rfind('\n', 0, pos) + 1
    indent = len(code[line_start:pos]) - len(code[line_start:pos].lstrip(' '))
    names = [m.group('name') for m in DECL.finditer(code, 0, line_start)
             if len(m.group('indent')) < indent]
    return names[-1] if names else None


def main(root):
    main_src = sources(root / 'src/main')
    bench_src = sources(root / 'perfbench/harness')
    objects = {m.group('name') for code, _ in main_src.values()
               for m in OBJECT.finditer(code)}
    tests = Counter(w for code, strs in sources(root / 'src/test').values()
                    for w in WORD.findall(code + ' '.join(strs)))
    defs = [(p, code.count('\n', 0, m.start()) + 1, m.group('name'),
             owner_at(code, m.start('name')))
            for p, (code, _) in main_src.items() for m in DEF.finditer(code)
            if 'override' not in m.group('pre')
            and not (m.group('name') == 'main' and code.startswith('(args', m.end()))]
    # name -> owners it is called through (None: unqualified or qualified by
    # a non-object), and name -> files whose string literals call it
    called_via = {}
    string_calls = {}
    for p, (code, strs) in {**main_src, **bench_src}.items():
        for m in WORD.finditer(code):
            before = code[max(0, m.start() - 80):m.start()]
            if DEF_SITE.search(before):
                continue
            q = QUALIFIER.search(before)
            q = q and q.group('qual')
            called_via.setdefault(m.group(0), set()).add(q if q in objects else None)
        for lit in strs:
            for m in CALL.finditer(lit):
                string_calls.setdefault(m.group('name'), set()).add(p)

    def used(p, name, owner):
        via = called_via.get(name, set())
        return (None in via or owner in via
                or bool(string_calls.get(name, set()) - {p}))
    unused = [(p, line, name) for p, line, name, owner in defs
              if not used(p, name, owner)]
    why = {d: KEPT.get(f'{d[0].stem}.{d[2]}') for d in unused}
    for p, line, name in [d for d in unused if not why[d]]:
        print(f'{p.relative_to(root)}:{line}\t{name}\ttest refs: {tests[name]}')
    kept = [d for d in unused if why[d]]
    if kept:
        print('\nkept on purpose:')
    for p, line, name in kept:
        print(f'{p.relative_to(root)}:{line}\t{name}\ttest refs: {tests[name]}\t{why[p, line, name]}')


if __name__ == '__main__':
    main(Path(sys.argv[1] if len(sys.argv) > 1 else '.').resolve())
