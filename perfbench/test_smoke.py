"""The benchmark's own tests, on the smoke size of every workload.

    python3 -m pytest perfbench -q      (from the repository root; ~3 min)
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import run

sys.path.insert(0, run.ROOT)
SCRATCH = os.path.join(run.ROOT, '.perfbench', 'test')


def _bench():
    with open(os.path.join(run.ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def _run(args, cwd=run.ROOT):
    """Run the command in a session of its own; ``leftover`` lists that
    session's processes still alive once the command has exited."""
    with subprocess.Popen([sys.executable, 'perfbench/run.py', *args], cwd=cwd, text=True,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, start_new_session=True) as p:
        out, err = p.communicate(timeout=600)
    proc = subprocess.CompletedProcess(p.args, p.returncode, out, err)
    proc.leftover = _session_processes(p.pid)
    return proc


def _session_processes(sid: int) -> list[str]:
    """Command lines of the live processes in session ``sid``."""
    out = []
    for d in os.listdir('/proc'):
        if not d.isdigit():
            continue
        try:
            with open(f'/proc/{d}/stat') as f:
                fields = f.read().rsplit(')', 1)[1].split()
            with open(f'/proc/{d}/cmdline') as f:
                cmd = f.read().replace('\0', ' ')
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != 'Z':
            out.append(cmd)
    return out


def test_benchmark_json_matches_the_program():
    from workloads import WORKLOADS

    bench = _bench()
    assert {m['name']: m['unit'] for m in bench['end_to_end']} == run.END_TO_END
    assert {m['name']: m['unit'] for m in bench['per_layer']} == run.PER_LAYER
    assert [w['name'] for w in bench['workloads']] == list(WORKLOADS)
    setup = next(m for m in bench['end_to_end'] if m['name'] == 'setup_s')
    assert setup['bound'] == max(m['bound'] for m in bench['end_to_end'])


def test_tail_needs_ten_samples_above():
    assert run.tail(list(range(19))) == (None, None)
    pct, value = run.tail([float(i) for i in range(100)])
    assert pct == 90 and 88 < value < 91


def test_generators_are_seeded():
    a, ea = gen.transcripts(2000, seed=5)
    b, eb = gen.transcripts(2000, seed=5)
    c, _ = gen.transcripts(2000, seed=6)
    assert a.equals(b) and ea == eb
    assert not a.equals(c)
    assert ea['turns'] == a.num_rows
    docs, e = gen.docs(100, seed=1, n_pairs=5, hot_block=8)
    assert len(e['pairs']) == 5 and all(x >= 8 for pair in e['pairs'] for x in pair)


def test_dedup_check_catches_over_merging():
    from workloads import CorpusDedup, Pass

    wl = CorpusDedup(None, os.path.join(SCRATCH, 'check'), seed=1, size='smoke')
    _, wl.expected = gen.docs(40, seed=1, n_pairs=4, hot_block=6)
    wl.expected['twins'] = []

    def errors(cluster):
        return wl.check(Pass(detail={'cluster': cluster, 'top1': {}, 'audit': {'hot_buckets': 1}}))

    right = {i: i for i in range(40)}
    right.update({b: a for a, b in wl.expected['pairs']})
    assert errors(right) == []
    assert errors(right | {i: 0 for i in range(6)}) == []  # hot block as one cluster
    assert errors({i: 0 for i in range(40)})               # everything merged
    paired = {x for pair in wl.expected['pairs'] for x in pair}
    a, b = [i for i in range(6, 40) if i not in paired][:2]
    assert errors(right | {b: a})                           # one merge too many
    shutil.rmtree(wl.work)


def test_refuses_to_run_without_the_library():
    bare = os.path.join(SCRATCH, 'bare')
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(run.ROOT, 'perfbench'), os.path.join(bare, 'perfbench'),
                    ignore=shutil.ignore_patterns('__pycache__'))
    shutil.copy(os.path.join(run.ROOT, 'BENCHMARK.json'), bare)
    proc = _run(['--workload', 'kg_batch', '--seed', '1', '--seconds', '1', '--trace', '0'], cwd=bare)
    shutil.rmtree(bare)
    assert proc.returncode != 0 and proc.stdout == ''


@pytest.mark.parametrize('trace', [0, 1])
def test_command_end_to_end(trace):
    proc = _run(['--workload', 'kg_batch', '--seed', '3', '--seconds', '1',
                 '--trace', str(trace), '--size', 'smoke'])
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the JVM, Spark's Python workers and the speed-control loops are gone
    assert proc.leftover == []
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {'correct', 'attempted', 'failed', 'metrics'}
    assert result['correct'] and result['failed'] == 0 and result['attempted'] >= 2
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v['unit'] for k, v in result['metrics'].items()} == want
    if trace:
        assert result['metrics']['horizontal.melt_rows']['value'] > 0
    else:
        assert all(v['value'] > 0 for v in result['metrics'].values())


@pytest.fixture(scope='module')
def spark():
    work = os.path.join(SCRATCH, 'session')
    shutil.rmtree(work, ignore_errors=True)
    session = run.start_spark(work, trace=False, nproc=2)
    yield session
    run.stop_spark(session)
    shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize('name', ['kg_batch', 'corpus_dedup'])
def test_workload_passes_its_checks(spark, name):
    from workloads import WORKLOADS

    wl = WORKLOADS[name](spark, os.path.join(SCRATCH, name), seed=7, size='smoke')
    wl.stage()
    for _ in range(2):
        wl.before_pass()
        p = wl.run_pass()
        assert wl.check(p) == []
        assert p.rows > 0
    shutil.rmtree(wl.work)
