#!/usr/bin/env python
"""Standing sf1 value-evidence gate (VERDICT r8 "Next round #1/#2" made
standing): run the full query registry against the sf1 dataset using the
SPLIT PROTOCOL the round-9 pass validated:

1. ``--checksum`` phase for every in-scope query. Cheap, engine-side,
   and SOUND for double-free outputs (count + exact sum + xor of a
   60-bit md5 slice over the canonical row string).
2. Full-canon retry phase for every checksum FAIL. The decimal(38,9)
   double quantization false-fails past |v| ~ 4e6 AND on rational ratio
   columns (k/n values hit exact 9th-decimal halfway points
   systematically — docs/SF1_ORACLE.md, round-9 protocol lesson), so a
   checksum FAIL means "re-check with the canon", not "broken". A REAL
   engine mismatch fails the canon too and fails the gate.

Exit 0 iff every in-scope query ends green (exact or the documented
q1/sweep tolerance-only class). The two documented oracle-resource /
scale-limit rows (`dedup_semantic_kmeans`, `dedup_tf_cosine_pairs`) are
excluded, as in every recorded pass.

Usage:
    python tools/sf1_gate.py [sf1_dir]    # default /tmp/cb_sf1
(regenerate the dataset first if absent: python tools/gen_sf1.py)
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ORACLE_EXCLUDED = ('dedup_semantic_kmeans', 'dedup_tf_cosine_pairs')
# >15.95-significant-digit decimal->double sums: adjacent-ulp across
# engines at sf1; the canon reports them ok~ (<=1e-9 rel), which the
# gate accepts for exactly these two (docs/SF1_ORACLE.md).
TOLERANCE_OK = ('q1_pricing_summary', 'graph_param_sweep_broadcast')


class GateRunError(RuntimeError):
    """The oracle subprocess crashed or under-reported — NOT a per-query
    verdict. Treated as a hard gate failure (ADVICE r9: a run that dies
    before printing per-query lines must never read as green)."""


def _run(sf1_dir: str, names: list[str], checksum: bool) -> tuple[set, str]:
    cmd = [sys.executable, os.path.join(ROOT, 'tests', 'oracle_check.py')]
    if checksum:
        cmd.append('--checksum')
    cmd += [sf1_dir, *names]
    out = subprocess.run(cmd, capture_output=True, text=True)
    # explicit newline join (ADVICE r10): if stdout lacks a trailing
    # newline, the first stderr line would glue onto the last stdout
    # line and the ^-anchored FAIL/verdict regexes below would miss it
    text = out.stdout + '\n' + out.stderr
    # line-anchored like the verdict-line regex below: an unanchored match
    # would parse stray 'FAIL <word>' log noise as a query name and feed
    # the tripwires a bogus unreported query (spurious hard-red)
    fails = set(re.findall(r'^FAIL ([a-z0-9_]+)', text, re.M))
    # Hard-failure detection (ADVICE r9). A crash before the per-query
    # loop prints no FAIL lines at all; without these checks the gate
    # would exit 0 on a Spark OOM / import error — a false green in a
    # correctness gate. Three independent tripwires:
    # 1. exit status: oracle_check returns 0/1 for checked/failed, so any
    #    OTHER code — or 1 with zero parsed FAILs — is a crash;
    if out.returncode not in (0, 1) or (out.returncode == 1 and not fails):
        raise GateRunError(
            f'oracle_check exited {out.returncode} with '
            f'{len(fails)} FAIL lines — crashed, not a verdict:\n'
            + text[-2000:]
        )
    # 2. the final summary line must exist;
    if not re.search(r'\d+ matched \(\d+ tolerance-only\), \d+ failed', text):
        raise GateRunError(
            'oracle_check produced no summary line — output truncated:\n'
            + text[-2000:]
        )
    # 3. every requested query must have produced a verdict line
    #    (ok / ok~ / FAIL / ---- rows-only).
    seen = set(
        re.findall(r'^(?:ok~? +|FAIL |---- )([a-z0-9_]+)', text, re.M)
    )
    unreported = set(names) - seen
    if unreported:
        raise GateRunError(
            f'{len(unreported)} in-scope queries produced no verdict line: '
            f'{sorted(unreported)[:10]}...'
        )
    return fails, text


def main() -> int:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else '/tmp/cb_sf1'
    if not os.path.isdir(sf1_dir):
        print(f'sf1 dataset missing at {sf1_dir} — run: python tools/gen_sf1.py')
        return 2

    from cyclebane_spark.queries import registry

    scope = [n for n in registry() if n not in ORACLE_EXCLUDED]
    tol = [n for n in scope if n in TOLERANCE_OK]
    checksum_scope = [n for n in scope if n not in TOLERANCE_OK]

    print(f'sf1 gate: {len(scope)} queries in scope (full registry)')
    try:
        fails, _ = _run(sf1_dir, checksum_scope, checksum=True)
        print(f'checksum phase: {len(checksum_scope) - len(fails)} green, '
              f'{len(fails)} to canon-retry: {sorted(fails)}')

        retry = sorted(fails) + tol
        hard_fail: set = set()
        if retry:
            fails2, text2 = _run(sf1_dir, retry, checksum=False)
            # tolerance-only is green for the documented pair, red otherwise
            tol_only = set(re.findall(r'^ok~ +([a-z0-9_]+)', text2, re.M))
            hard_fail = fails2 | {n for n in tol_only if n not in TOLERANCE_OK}
            print(f'canon phase: {len(retry) - len(hard_fail)} green, '
                  f'{len(hard_fail)} FAILED: {sorted(hard_fail)}')
    except GateRunError as exc:
        print(f'sf1 gate: RED (oracle run crashed/under-reported)\n{exc}')
        return 3
    if hard_fail:
        print('sf1 gate: RED')
        return 1
    print('sf1 gate: green')
    return 0


if __name__ == '__main__':
    sys.exit(main())
