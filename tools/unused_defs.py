#!/usr/bin/env python3
"""List every `def` in src/main that nothing in src/main or perfbench/harness
calls, with how many times the tests name it.

Usage: python3 tools/unused_defs.py [repo_root]

Comments are stripped before counting (string literals are kept: a SQL
string may call a registered function). A name counts as called when it
occurs more often than it is defined, so the census is by name: a name
defined twice and called once, a self-recursive def, or a def only reached
through a named argument of the same name can hide from it. `override`
defs are skipped (the framework calls them).

Defs listed in KEPT are references kept on purpose; they print in their own
block, after the candidates, with the reason they stay.
"""
import re
import sys
from collections import Counter
from pathlib import Path

TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*[\s\S]*?\*/')
DEF = re.compile(r'^(?P<pre>[^\n]*?)\bdef\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)', re.M)
WORD = re.compile(r'[A-Za-z_][A-Za-z0-9_]*')

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
    'TextAnalysis.tokensHof': _HOF,
    'Dedup.shinglesOfTokensHof': _HOF,
    'EventStreamIngest.fromKafka': _KAFKA,
    'EventStreamIngest.toKafkaSink': _KAFKA,
}


def strip_comments(src):
    return TOKEN.sub(lambda m: m.group(0) if m.group(0).startswith('"') else
                     '\n' * m.group(0).count('\n'), src)


def sources(*dirs):
    return {p: strip_comments(p.read_text(encoding='utf-8'))
            for d in dirs for p in sorted(Path(d).rglob('*.scala'))}


def main(root):
    main_src = sources(root / 'src/main')
    uses = Counter(w for s in sources(root / 'perfbench/harness').values() for w in WORD.findall(s))
    uses.update(w for s in main_src.values() for w in WORD.findall(s))
    tests = Counter(w for s in sources(root / 'src/test').values() for w in WORD.findall(s))
    defs = [(p, s.count('\n', 0, m.start()) + 1, m.group('name'))
            for p, s in main_src.items() for m in DEF.finditer(s)
            if 'override' not in m.group('pre')]
    n_defs = Counter(name for _, _, name in defs)
    unused = [(p, line, name) for p, line, name in defs if uses[name] <= n_defs[name]]
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
