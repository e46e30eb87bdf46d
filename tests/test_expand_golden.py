"""Expansion goldens: ``to_networkx()`` of every scenario in
``expand_scenarios`` must keep its frozen canonical form.

``tests/golden/expand.json`` holds, per scenario, the sha256 of
``repr(canon(expanded))`` and the instance node and edge counts. The
reference differential needs the reference library and skips without it;
these goldens guard the same scenarios in its place. Regenerate them (only
when a behaviour change is intended) with

    PYTHONPATH=. python tests/test_expand_golden.py --write
"""

from __future__ import annotations

import functools
import hashlib
import json
import sys
from pathlib import Path

import pytest

from cyclebane_spark import Graph
from expand_scenarios import NAMED, RANDOM, SEEDS, canon, rng

GOLDEN = Path(__file__).resolve().parent / 'golden' / 'expand.json'


def cases() -> dict[str, object]:
    """Case id -> zero-argument builder of the scenario's graph."""
    out = {f'named/{name}': (lambda b=build: b(Graph)) for name, build in NAMED.items()}
    for kind, build in RANDOM.items():
        for seed in SEEDS:
            out[f'{kind}/{seed}'] = lambda b=build, s=seed: b(Graph, rng(s))
    return out


def fingerprint(expanded) -> dict:
    return {
        'sha256': hashlib.sha256(repr(canon(expanded)).encode()).hexdigest(),
        'nodes': expanded.number_of_nodes(),
        'edges': expanded.number_of_edges(),
    }


CASES = cases()


@functools.cache
def goldens() -> dict[str, dict]:
    return json.loads(GOLDEN.read_text())


def test_goldens_cover_every_case():
    assert sorted(goldens()) == sorted(CASES)


@pytest.mark.parametrize('case', list(CASES))
def test_expansion_matches_golden(case):
    assert fingerprint(CASES[case]().to_networkx()) == goldens()[case]


if __name__ == '__main__':
    if sys.argv[1:] != ['--write']:
        sys.exit('usage: PYTHONPATH=. python tests/test_expand_golden.py --write')
    frozen = {case: fingerprint(build().to_networkx()) for case, build in CASES.items()}
    lines = [f'{json.dumps(c)}: {json.dumps(frozen[c], sort_keys=True)}' for c in sorted(frozen)]
    GOLDEN.write_text('{\n' + ',\n'.join(lines) + '\n}\n')
    print(f'wrote {len(frozen)} goldens to {GOLDEN}')
