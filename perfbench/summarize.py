"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/summarize.py --workloads kg_batch,corpus_dedup --seeds 1-10 --out set1.json
    python3 perfbench/summarize.py --trace --workloads kg_batch --seeds 1 --out traced.json

Runs are sequential, one process each, from the repository root.  For
each workload and metric the summary gives the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median, the figure the bounds in
BENCHMARK.json are set against.  ``--compare`` reads two summaries and
reports, per metric, how far the second median moved from the first.
``--overhead`` reads a traced and an untraced summary and reports the
tracing overhead: the traced runs' ``trace.pass_s`` minus the untraced
runs' ``pass_s``, per workload (both medians).

    python3 perfbench/summarize.py --overhead traced.json set1.json
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(','):
        lo, _, hi = part.partition('-')
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join('perfbench', 'run.py'), '--workload', workload,
           '--seed', str(seed), '--seconds', str(seconds), '--trace', str(int(trace))]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f'{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}')
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result['wall_s'] = wall
    return result


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {'median': med, 'q1': q1, 'q3': q3, 'spread': (q3 - q1) / med if med else 0.0,
            'values': values}


def summarize(results: dict) -> dict:
    out = {}
    for workload, runs in results.items():
        metrics = {}
        for name in runs[0]['metrics']:
            metrics[name] = spread([r['metrics'][name]['value'] for r in runs])
            metrics[name]['unit'] = runs[0]['metrics'][name]['unit']
        out[workload] = {
            'runs': len(runs),
            'correct': all(r['correct'] for r in runs),
            'attempted': sum(r['attempted'] for r in runs),
            'failed': sum(r['failed'] for r in runs),
            'wall_s': spread([r['wall_s'] for r in runs]),
            'metrics': metrics,
        }
    return out


def compare(first: dict, second: dict, bounds: dict) -> list[str]:
    """One line per (workload, metric): both medians, the move of the
    second from the first, and the first set's spread, against the bound."""
    lines = []
    for workload, a in first.items():
        b = second.get(workload)
        if b is None:
            continue
        for name, ma in a['metrics'].items():
            mb = b['metrics'][name]
            move = (mb['median'] - ma['median']) / ma['median'] if ma['median'] else 0.0
            bound = bounds.get(name)
            lines.append(f"{workload:15s} {name:14s} {ma['median']:12.4f} {mb['median']:12.4f} "
                         f"move {move:+.3f} spread {ma['spread']:.3f}/{mb['spread']:.3f}"
                         + (f' bound {bound}' if bound is not None else ''))
    return lines


def overhead(traced: dict, untraced: dict) -> list[str]:
    lines = []
    for workload, t in traced.items():
        u = untraced.get(workload)
        if u is None:
            continue
        a, b = t['metrics']['trace.pass_s']['median'], u['metrics']['pass_s']['median']
        lines.append(f'{workload:15s} traced trace.pass_s {a:.4f} s  untraced pass_s {b:.4f} s  '
                     f'overhead {a - b:+.4f} s ({(a - b) / b:+.1%})')
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workloads', help='comma-separated; default: all in BENCHMARK.json')
    ap.add_argument('--seeds', default='1-10')
    ap.add_argument('--trace', action='store_true')
    ap.add_argument('--out', help='write the summary JSON here')
    ap.add_argument('--compare', nargs=2, metavar=('FIRST', 'SECOND'),
                    help='compare two summaries instead of running')
    ap.add_argument('--overhead', nargs=2, metavar=('TRACED', 'UNTRACED'),
                    help='report the tracing overhead of a traced summary over an untraced one')
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        bench = json.load(f)
    bounds = {m['name']: m['bound'] for m in bench['end_to_end']}

    if args.compare or args.overhead:
        sets = []
        for path in args.compare or args.overhead:
            with open(path) as f:
                sets.append(json.load(f)['summary'])
        print('\n'.join(compare(*sets, bounds) if args.compare else overhead(*sets)))
        return 0

    workloads = args.workloads.split(',') if args.workloads else [w['name'] for w in bench['workloads']]
    results: dict = {w: [] for w in workloads}
    for workload in workloads:
        for seed in seeds_arg(args.seeds):
            r = run_one(workload, seed, bench['run_seconds'], args.trace)
            results[workload].append(r)
            print(f"{workload} seed {seed}: correct={r['correct']} wall {r['wall_s']:.1f}s", file=sys.stderr)
    summary = summarize(results)
    for workload, s in summary.items():
        print(f"{workload}: {s['runs']} runs, correct={s['correct']}, failed {s['failed']}/{s['attempted']}, "
              f"wall median {s['wall_s']['median']:.1f}s")
        for name, m in s['metrics'].items():
            bound = bounds.get(name)
            flag = '' if bound is None or name == 'setup_s' or m['spread'] <= bound / 3 else (
                '  ABOVE bound/3' if m['spread'] <= bound else '  ABOVE BOUND')
            print(f"  {name:34s} median {m['median']:14.6g} {m['unit']:7s} spread {m['spread']:.3f}{flag}")
    if args.out:
        with open(args.out, 'w') as f:
            json.dump({'seeds': args.seeds, 'trace': args.trace, 'summary': summary,
                       'runs': results}, f, indent=1)
    return 0


if __name__ == '__main__':
    sys.exit(main())
