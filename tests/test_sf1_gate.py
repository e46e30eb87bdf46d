"""The sf1 gate's hard-failure tripwires (ADVICE r9).

The gate used to parse only ``FAIL <name>`` lines; a subprocess that
crashed before the per-query loop (Spark OOM, import error, missing
dataset column) printed none and the gate exited 0 — a false green in a
correctness gate. These tests pin the three tripwires in ``_run`` by
faking the subprocess result; no Spark session needed.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gate():
    spec = importlib.util.spec_from_file_location(
        'sf1_gate', os.path.join(ROOT, 'tools', 'sf1_gate.py')
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fake_run(monkeypatch, gate, stdout: str, returncode: int):
    def fake(cmd, capture_output, text, **kw):
        # the oracle subprocess inherits the caller's environment, so
        # bench_session picks its cpu count; the gate forces none
        assert 'env' not in kw, kw
        return types.SimpleNamespace(
            stdout=stdout, stderr='', returncode=returncode
        )

    monkeypatch.setattr(gate.subprocess, 'run', fake)


GOOD = (
    'ok   q_a (10 rows, exact)\n'
    'FAIL q_b: rowcount 3 != 4\n'
    '\n1 matched (0 tolerance-only), 1 failed, 0 rows-only\n'
)


def test_clean_run_parses_fails(monkeypatch):
    gate = _gate()
    _fake_run(monkeypatch, gate, GOOD, returncode=1)
    fails, _ = gate._run('/tmp/x', ['q_a', 'q_b'], checksum=False)
    assert fails == {'q_b'}


def test_crash_exit_code_is_hard_failure(monkeypatch):
    gate = _gate()
    # OOM/import crash: no per-query lines, no summary, exit 137/2/etc.
    _fake_run(monkeypatch, gate, 'Traceback ...\n', returncode=2)
    with pytest.raises(gate.GateRunError, match='crashed'):
        gate._run('/tmp/x', ['q_a'], checksum=False)


def test_exit_1_without_fail_lines_is_hard_failure(monkeypatch):
    gate = _gate()
    # exit 1 is a legitimate "some queries failed" code ONLY when FAIL
    # lines exist; bare exit 1 (e.g. SystemExit in setup) must trip
    _fake_run(monkeypatch, gate, 'some noise\n', returncode=1)
    with pytest.raises(gate.GateRunError, match='crashed'):
        gate._run('/tmp/x', ['q_a'], checksum=False)


def test_missing_summary_line_is_hard_failure(monkeypatch):
    gate = _gate()
    # killed mid-loop: verdict lines but no final summary (truncated)
    _fake_run(
        monkeypatch, gate, 'ok   q_a (10 rows, exact)\n', returncode=0
    )
    with pytest.raises(gate.GateRunError, match='summary'):
        gate._run('/tmp/x', ['q_a'], checksum=False)


def test_unreported_query_is_hard_failure(monkeypatch):
    gate = _gate()
    # summary present but a requested query silently produced no verdict
    _fake_run(monkeypatch, gate, GOOD, returncode=1)
    with pytest.raises(gate.GateRunError, match='no verdict'):
        gate._run('/tmp/x', ['q_a', 'q_b', 'q_ghost'], checksum=False)


def test_rows_only_and_tolerance_lines_count_as_reported(monkeypatch):
    gate = _gate()
    out = (
        'ok~  q_t (5 rows; float-tolerance only — driver hash may differ!)\n'
        '---- q_r: no oracle (7 rows)\n'
        '\n1 matched (1 tolerance-only), 0 failed, 1 rows-only\n'
    )
    _fake_run(monkeypatch, gate, out, returncode=0)
    fails, _ = gate._run('/tmp/x', ['q_t', 'q_r'], checksum=False)
    assert fails == set()


def test_stray_fail_noise_is_not_a_query_name(monkeypatch):
    gate = _gate()
    # unanchored parsing turned mid-line 'FAIL fast' log noise into a
    # bogus query name, which then tripped the unreported-query tripwire
    out = (
        'WARN executor: will FAIL fast on fetch errors\n'
        'ok   q_a (10 rows, exact)\n'
        '\n1 matched (0 tolerance-only), 0 failed, 0 rows-only\n'
    )
    _fake_run(monkeypatch, gate, out, returncode=0)
    fails, _ = gate._run('/tmp/x', ['q_a'], checksum=False)
    assert fails == set()
