"""Benchmark entry point: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It starts a ``local[<nproc>]`` session
with the library's ``get_spark``, stages the workload's inputs from the
seed, runs a cold first pass, three warm-up passes and then steady passes
for ``--seconds``, checks every pass's output, and prints the metrics by
name and unit.  The last line of standard output is the JSON result.  ``--trace 1`` is the
separate traced run: with Spark's event log on it runs the same passes,
then times each layer, reports the per-layer metrics instead, writes the
spans and the per-job-group Spark stage metrics under ``.perfbench/``,
and reports no end-to-end metric.

Everything the run reads or writes stays inside the checkout, under
``.perfbench/`` (Spark's local dirs, the JVM's temp dir and the event log
included).
"""
import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# passes after the cold one that the JIT still speeds up most (a pass
# keeps getting faster for about five): checked, but kept out of the
# steady medians
WARMUP_PASSES = 3
# steady passes a run measures at least; the median of three ignores one
# pass that a burst of load on a shared host slowed down
MIN_STEADY = 3
# the traced run's layer deltas must sum to its full prefix within a
# factor of 1.5, or the layers do not cover the pass and the run counts a
# failure (the smallest deltas, ~0.1 s, scatter by ±20 % from noise alone)
COVERAGE = (2 / 3, 1.5)
# seconds a child process gets to end by itself once the run is over
CHILD_GRACE_S = 5

# gated end-to-end metrics, reported by every workload (see BENCHMARK.json)
END_TO_END = {
    'setup_s': 's',
    'pass_s': 's',
    'rows_per_s': 'rows/s',
    'peak_rss_mb': 'MB',
}

PER_LAYER = {
    'sources.scan_s': 's', 'sources.rows': 'count', 'sources.bytes': 'bytes',
    'horizontal.s': 's', 'horizontal.plan_s': 's', 'horizontal.melt_rows': 'count',
    'horizontal.triples': 'count', 'horizontal.yield': 'ratio',
    'canonicalize.s': 's', 'canonicalize.triples': 'count', 'canonicalize.shuffle_write_bytes': 'bytes',
    'upserts.s': 's',
    'pipeline.export_s': 's', 'pipeline.gzip_bytes': 'bytes', 'pipeline.files': 'count',
    'lineage.materialize_s': 's', 'lineage.verify_s': 's', 'lineage.files': 'count',
    'lineage.bytes': 'bytes', 'lineage.append_ms_p50': 'ms',
    'stream.batches': 'count', 'stream.rows_per_batch': 'count', 'stream.batch_ms_p50': 'ms',
    'stream.plan_ms_p50': 'ms',
    'stream.add_batch_ms_p50': 'ms', 'stream.commit_ms_p50': 'ms',
    'dedup.candidates_s': 's', 'dedup.verify_s': 's', 'dedup.components_s': 's',
    'dedup.candidates': 'count', 'dedup.verified_pairs': 'count', 'dedup.precision': 'ratio',
    'simsearch.knn_s': 's', 'simsearch.edges': 'count', 'simsearch.hot_buckets': 'count',
    'spark.task_s': 's', 'spark.gc_s': 's', 'spark.shuffle_read_bytes': 'bytes',
    'spark.shuffle_write_bytes': 'bytes', 'spark.spill_bytes': 'bytes', 'spark.task_skew': 'ratio',
    'spark.core_util': 'ratio', 'spark.failed_tasks': 'count', 'spark.codegen_compiles': 'count',
    'spark.codegen_s': 's', 'spark.codegen_compiles_steady': 'count',
    'trace.pass_s': 's', 'trace.prefix_sum_s': 's', 'trace.full_prefix_s': 's', 'trace.coverage': 'ratio',
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--size', choices=('full', 'smoke'), default='full',
                    help='smoke: tiny inputs, for the benchmark\'s own tests')
    return ap.parse_args(argv)


def tail(samples: list) -> tuple:
    """(percentile, value): the highest of p50/p75/p90/p95/p99 with at least
    ten samples above it; (None, None) when there are fewer than 20."""
    xs = sorted(samples)
    best = (None, None)
    for pct in (50, 75, 90, 95, 99):
        if len(xs) * (100 - pct) / 100 >= 10:
            best = (pct, statistics.quantiles(xs, n=100, method='inclusive')[pct - 1])
    return best


def start_spark(work: str, trace: bool, nproc: int):
    """The library's session, with every scratch path inside ``work``."""
    from dgraphpandas_spark import get_spark

    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    os.environ['TMPDIR'] = tmp
    tempfile.tempdir = None
    # the launcher JVM and Spark's scratch space stay inside the checkout too
    os.environ['SPARK_LOCAL_DIRS'] = os.path.join(work, 'spark-local')
    os.environ['SPARK_LAUNCHER_OPTS'] = f'-XX:-UsePerfData -Djava.io.tmpdir={tmp}'
    conf = {
        'spark.driver.memory': '2g',
        'spark.local.dir': os.path.join(work, 'spark-local'),
        'spark.sql.warehouse.dir': os.path.join(work, 'warehouse'),
        # fixed heap and young-generation sizes keep peak RSS from depending
        # on when G1 resizes them
        'spark.driver.extraJavaOptions': f'-Xms2g -Xmn512m -Djava.io.tmpdir={tmp} -XX:-UsePerfData',
        'spark.ui.showConsoleProgress': 'false',
    }
    if trace:
        os.makedirs(os.path.join(work, 'eventlog'))
        conf.update({
            'spark.eventLog.enabled': 'true',
            'spark.eventLog.dir': os.path.join(work, 'eventlog'),
            'spark.eventLog.compress': 'false',
            'spark.eventLog.rolling.enabled': 'false',
        })
    spark = get_spark(app_name='perfbench', master=f'local[{nproc}]', extra_conf=conf)
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM the Python gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, 'proc', None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    that a process orphaned by its parent (Spark's Python workers, the
    launcher's subshells) becomes its child and ``stop_children`` can wait
    for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def live_children() -> list[int]:
    """Pids whose parent is this process and that have not exited."""
    me, out = os.getpid(), []
    for d in os.listdir('/proc'):
        if not d.isdigit():
            continue
        try:
            with open(f'/proc/{d}/stat') as f:
                fields = f.read().rsplit(')', 1)[1].split()
        except OSError:
            continue
        if fields[0] != 'Z' and int(fields[1]) == me:
            out.append(int(d))
    return out


def stop_children() -> None:
    """Wait for every process this one started, and every orphan it has
    adopted, to end: SIGTERM after CHILD_GRACE_S, SIGKILL after twice
    that; each is reaped."""
    t0 = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * CHILD_GRACE_S else signal.SIGTERM if waited > CHILD_GRACE_S else None
        if sig is not None and sig != sent:
            for pid in live_children():
                print(f'perfbench: stopping leftover process {pid} with {sig.name}', file=sys.stderr)
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.02)


def timed_pass(wl, k: int, tracer=None) -> dict:
    """Pass ``k``; traced, inside a span under job group ``pass/<k>``."""
    wl.before_pass()
    if tracer is None:
        t0 = time.perf_counter()
        p = wl.run_pass()
        return {'wall': time.perf_counter() - t0, 'pass': p, 'errors': wl.check(p)}
    span, p = tracer.timed('pass', wl.run_pass, group=f'pass/{k}')
    return {'wall': span['s'], 'pass': p, 'errors': wl.check(p), 'span': span}


def measure(wl, seconds: float, tracer=None) -> list:
    """Cold first pass, WARMUP_PASSES warm-up passes, then steady passes
    for ``seconds`` (at least MIN_STEADY).  A pass that raises is counted
    as failed; if the first pass raises the run is abandoned."""
    runs = [timed_pass(wl, 0, tracer)]

    def one_more():
        try:
            runs.append(timed_pass(wl, len(runs), tracer))
        except Exception:  # noqa: BLE001 - keep measuring; the failure is counted
            traceback.print_exc(file=sys.stderr)
            runs.append({'wall': None, 'pass': None, 'errors': ['pass raised']})

    for _ in range(WARMUP_PASSES):
        one_more()
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(runs) <= WARMUP_PASSES + MIN_STEADY:
        one_more()
    return runs


def steady_runs(runs: list) -> list:
    """(index, run) of the steady passes, those after the warm-up ones,
    that completed."""
    return [(k, r) for k, r in enumerate(runs) if k > WARMUP_PASSES and r['pass'] is not None]


def e2e_metrics(runs: list, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """(gated metrics, reported-only extras)."""
    steady = [r for _, r in steady_runs(runs)]
    pass_s = statistics.median(r['wall'] for r in steady)
    rows = statistics.median(r['pass'].rows for r in steady)
    ops = [r['wall'] for r in steady]  # both workloads commit whole passes
    pct, tail_s = tail(ops)
    gated = {
        'setup_s': setup_s,
        'pass_s': pass_s,
        'rows_per_s': rows / pass_s,
        'peak_rss_mb': rss_mb,
    }
    extras = {
        'first_pass_s': runs[0]['wall'],
        'batch_p50_s': statistics.median(ops),
        'batch_tail_s': tail_s,
        'batch_tail_pct': pct,
        'batch_samples': len(ops),
        'steady_passes': len(steady),
        'pass_walls_s': [r['wall'] for r in runs],
    }
    return gated, extras


def layer_metrics(wl, runs: list, cycles: list, m: dict, groups: dict, cores: int) -> dict:
    """Per-layer metrics: the workload's own, those read from Spark's event
    log for the steady passes and prefix cycles, and the codegen of the
    cold pass against the steady ones.  Layers a workload does not use
    report 0."""
    from tracing import merge_groups, task_skew

    per = {layer: [groups.get(f'{layer}/{k}', {}) for k in range(1, len(cycles))]
           for layer in ('sources', 'horizontal', 'canonicalize')}
    passes = merge_groups(groups, wl.pass_groups(steady_runs(runs)))
    steady = [r for _, r in steady_runs(runs)]
    n = len(steady)
    walls = [r['wall'] for r in steady]
    out = {name: 0 for name in PER_LAYER}
    out.update(m)
    out.update({
        'spark.task_s': passes['task_s'] / n,
        'spark.gc_s': passes['gc_s'] / n,
        'spark.shuffle_read_bytes': passes['shuffle_read_bytes'] / n,
        'spark.shuffle_write_bytes': passes['shuffle_write_bytes'] / n,
        'spark.spill_bytes': passes['spill_bytes'] / n,
        'spark.task_skew': task_skew(passes['stages']),
        'spark.core_util': passes['busy_s'] / (sum(walls) * cores),
        'spark.failed_tasks': passes['failed_tasks'],
        'spark.codegen_compiles': runs[0]['span']['compiles'],
        'spark.codegen_s': runs[0]['span']['codegen_s'],
        'spark.codegen_compiles_steady': statistics.median(r['span']['compiles'] for r in steady),
        'horizontal.melt_rows': passes['expand_rows'] / n,
        'trace.pass_s': statistics.median(walls),
    })
    if any(per['sources']):
        out['sources.rows'] = statistics.median(g.get('input_rows', 0) for g in per['sources'])
    if any(per['canonicalize']):
        out['canonicalize.shuffle_write_bytes'] = statistics.median(
            c.get('shuffle_write_bytes', 0) - h.get('shuffle_write_bytes', 0)
            for c, h in zip(per['canonicalize'], per['horizontal']))
    if out['horizontal.melt_rows']:
        out['horizontal.yield'] = out['horizontal.triples'] / out['horizontal.melt_rows']
    out['trace.coverage'] = out['trace.prefix_sum_s'] / out['trace.full_prefix_s']
    return out


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps({
        'correct': correct,
        'attempted': attempted,
        'failed': failed,
        'metrics': {k: {'value': v, 'unit': units[k]} for k, v in metrics.items()},
    })


def main(argv=None) -> int:
    adopt_orphans()
    try:
        return run(parse_args(argv))
    finally:
        stop_children()


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, 'dgraphpandas_spark')):
        print(f'perfbench: no dgraphpandas_spark package in {ROOT}; run from the repository root '
              f'of a full checkout', file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f'perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}', file=sys.stderr)
        return 2

    tag = f'{args.workload}-seed{args.seed}-trace{args.trace}' + ('-smoke' if args.size == 'smoke' else '')
    work = os.path.join(ROOT, '.perfbench', tag)
    shutil.rmtree(work, ignore_errors=True)
    cores = host.nproc()
    ctx = host.context(ROOT, f'local[{cores}]')

    spark = start_spark(work, bool(args.trace), cores)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        t_session = time.perf_counter() - T_START
        wl = WORKLOADS[args.workload](spark, os.path.join(work, 'data'), args.seed, args.size)
        stage_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.stage()
            stage_s.append(time.perf_counter() - t0)
        setup_s = t_session + statistics.median(stage_s)
        ctx.update(spark=spark.version,
                   java=spark.sparkContext._jvm.System.getProperty('java.version'))
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(tag, spark)
            with tracer.span('run'):
                # the same passes as an untraced run, so that trace.pass_s
                # minus pass_s is the tracing overhead; then the layers
                runs = measure(wl, args.seconds, tracer)
                cycles, layer_m, layer_errors = wl.layers(
                    tracer, args.seconds, [r['pass'] for _, r in steady_runs(runs)])
        else:
            runs = measure(wl, args.seconds)
        rss_mb = host.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        stop_spark(spark)

    attempted = len(runs)
    failed = sum(1 for r in runs if r['errors'])
    for i, r in enumerate(runs):
        for e in r['errors']:
            print(f'CHECK FAILED pass {i}: {e}', file=sys.stderr)

    record = {'workload': args.workload, 'seed': args.seed, 'seconds': args.seconds,
              'trace': args.trace, 'size': args.size, 'host': ctx,
              'setup': {'session_s': t_session, 'stage_s': stage_s}}
    if args.trace:
        from tracing import parse_event_log

        trace_dir = os.path.join(ROOT, '.perfbench', 'trace', tag)
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        groups = parse_event_log(os.path.join(work, 'eventlog'))
        tracer.write(os.path.join(trace_dir, 'spans.json'))
        with open(os.path.join(trace_dir, 'stages.json'), 'w') as f:
            json.dump(groups, f, indent=1)
        metrics = layer_metrics(wl, runs, cycles, layer_m, groups, cores)
        units = PER_LAYER
        # each output check of the layer timing, and the coverage check, is
        # one more operation of the traced run
        for i, errs in enumerate(layer_errors):
            for e in errs:
                print(f'CHECK FAILED layer cycle {i}: {e}', file=sys.stderr)
        attempted += len(layer_errors) + 1
        failed += sum(1 for errs in layer_errors if errs)
        if not COVERAGE[0] <= metrics['trace.coverage'] <= COVERAGE[1]:
            failed += 1
            print(f"CHECK FAILED: layer deltas sum to {metrics['trace.coverage']:.3f} of the full prefix, "
                  f'outside {COVERAGE}; the layers do not cover the pass', file=sys.stderr)
    else:
        metrics, extras = e2e_metrics(runs, setup_s, rss_mb)
        units = END_TO_END
        record['extras'] = extras
    record.update(attempted=attempted, failed=failed, failed_frac=failed / attempted)
    ctx['loadavg_after'] = host.loadavg()
    ctx['speed_control'] = host.speed_control()
    record['metrics'] = metrics

    for k, v in metrics.items():
        print(f'{args.workload} {k} = {v:.6g} {units[k]}')
    if not args.trace:
        ex = record['extras']
        print(f"{args.workload} first_pass_s = {ex['first_pass_s']:.6g} s")
        if args.workload.startswith('kg_'):
            print(f"{args.workload} triples_per_s = {metrics['rows_per_s']:.6g} triples/s")
        print(f"{args.workload} batch_p50_s = {ex['batch_p50_s']:.6g} s ({ex['batch_samples']} samples)")
        if ex['batch_tail_pct'] is not None:
            print(f"{args.workload} batch_tail_s = {ex['batch_tail_s']:.6g} s "
                  f"(p{ex['batch_tail_pct']} of {ex['batch_samples']} batches)")
    print(f"{args.workload} failed_frac = {record['failed_frac']:.6g} ({failed} of {attempted} operations)")
    print(f"host {json.dumps(ctx)}")

    results = os.path.join(ROOT, '.perfbench', 'results')
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f'{tag}.json'), 'w') as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(result_line(failed == 0, attempted, failed, metrics, units))
    return 0


if __name__ == '__main__':
    sys.exit(main())
