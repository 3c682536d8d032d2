"""Tracing from outside the library: spans around calls into each module,
noop-sink actions, Spark's codegen counters and Spark's own event log.

Spans stay in memory and are written once, at the end of the run.  Every
span may name a Spark job group; the event log is later split by job
group, so engine metrics land on the layer whose call caused them.
"""
from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

GROUP_KEY = 'spark.jobGroup.id'


class Tracer:
    """Spans carry a name, start, end, parent and run id (seconds since the
    tracer started).  Spans opened by ``timed`` also carry the seconds they
    took and the whole-stage-codegen compiles made inside them."""

    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.sc = spark.sparkContext
        self.codegen = CodegenCounter(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            'id': len(self.spans),
            'name': name,
            'parent': self._stack[-1] if self._stack else None,
            'run_id': self.run_id,
            'group': group,
            'start': time.perf_counter() - self._t0,
            'end': None,
        }
        self.spans.append(rec)
        self._stack.append(rec['id'])
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        if group is not None:
            self.sc.setLocalProperty(GROUP_KEY, group)
        try:
            yield rec
        finally:
            rec['end'] = time.perf_counter() - self._t0
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty(GROUP_KEY, prev_group)

    def timed(self, name: str, fn, group: str | None = None):
        """Run ``fn`` inside a span; return (span, result).  The codegen
        counters are read outside the span's interval."""
        c0, s0 = self.codegen.snapshot()
        with self.span(name, group) as rec:
            out = fn()
        c1, s1 = self.codegen.snapshot()
        rec.update(s=rec['end'] - rec['start'], compiles=c1 - c0, codegen_s=s1 - s0)
        return rec, out

    def write(self, path: str) -> None:
        with open(path, 'w') as f:
            json.dump(self.spans, f, indent=1)


def noop(df) -> None:
    """Execute ``df`` completely and discard the rows (Spark's noop sink):
    no checksum or write cost rides on the layer being timed."""
    df.write.format('noop').mode('overwrite').save()


def executed_plan(df) -> None:
    """Force analysis, optimisation and physical planning, without running."""
    df._jdf.queryExecution().executedPlan()


class CodegenCounter:
    """Whole-stage-codegen compiles, read from Spark's ``CodegenMetrics``
    through py4j.  ``snapshot()`` returns (compiles, seconds compiling)."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def snapshot(self) -> tuple[int, float]:
        # the histogram keeps every sample while fewer than 1028 exist,
        # which covers one benchmark session; summed in the JVM, one call
        values = self._hist.getSnapshot().getValues()
        return int(self._hist.getCount()), self._jvm.java.util.Arrays.stream(values).sum() / 1000.0


def _plan_expand_rows_ids(plan: dict, out: set) -> None:
    if plan.get('nodeName') == 'Expand':
        for m in plan.get('metrics', []):
            if m.get('name') == 'number of output rows':
                out.add(m['accumulatorId'])
    for child in plan.get('children', []):
        _plan_expand_rows_ids(child, out)


def _empty_group() -> dict:
    return {'tasks': 0, 'failed_tasks': 0, 'task_s': 0.0, 'busy_s': 0.0, 'gc_s': 0.0,
            'shuffle_read_bytes': 0, 'shuffle_write_bytes': 0, 'spill_bytes': 0,
            'input_rows': 0, 'expand_rows': 0, 'stages': {}}


def parse_event_log(log_dir: str) -> dict:
    """Per job group: task time, GC, shuffle/spill bytes, failed tasks,
    records read and rows emitted by ``Expand`` (the melt), plus each
    stage's task durations.  Stdlib ``json`` over Spark's event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, '*')) if os.path.isfile(p)]
    if not paths:
        raise FileNotFoundError(f'no Spark event log in {log_dir}')
    stage_group: dict[int, str] = {}
    expand_ids: set = set()
    tasks: list[tuple[int, dict]] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get('Event', '')
            if kind == 'SparkListenerJobStart':
                group = (ev.get('Properties') or {}).get(GROUP_KEY) or 'ungrouped'
                for sid in ev.get('Stage IDs', []):
                    stage_group[sid] = group
            elif kind == 'SparkListenerTaskEnd':
                tasks.append((ev['Stage ID'], ev))
            elif kind.endswith(('SparkListenerSQLExecutionStart', 'SparkListenerSQLAdaptiveExecutionUpdate')):
                _plan_expand_rows_ids(ev.get('sparkPlanInfo', {}), expand_ids)

    groups: dict[str, dict] = {}
    for sid, ev in tasks:
        g = groups.setdefault(stage_group.get(sid, 'ungrouped'), _empty_group())
        info = ev.get('Task Info', {})
        m = ev.get('Task Metrics') or {}
        busy = (info.get('Finish Time', 0) - info.get('Launch Time', 0)) / 1000.0
        g['tasks'] += 1
        g['failed_tasks'] += int(bool(info.get('Failed')))
        g['task_s'] += m.get('Executor Run Time', 0) / 1000.0
        g['busy_s'] += busy
        g['gc_s'] += m.get('JVM GC Time', 0) / 1000.0
        sr = m.get('Shuffle Read Metrics', {})
        g['shuffle_read_bytes'] += sr.get('Remote Bytes Read', 0) + sr.get('Local Bytes Read', 0)
        g['shuffle_write_bytes'] += m.get('Shuffle Write Metrics', {}).get('Shuffle Bytes Written', 0)
        g['spill_bytes'] += m.get('Memory Bytes Spilled', 0) + m.get('Disk Bytes Spilled', 0)
        g['input_rows'] += m.get('Input Metrics', {}).get('Records Read', 0)
        for acc in info.get('Accumulables', []):
            if acc.get('ID') in expand_ids and acc.get('Update') is not None:
                g['expand_rows'] += int(acc['Update'])
        g['stages'].setdefault(str(sid), []).append(round(busy, 4))
    return groups


def merge_groups(groups: dict, names) -> dict:
    """Sum the metrics of the named job groups."""
    out = _empty_group()
    for name in names:
        for k, v in groups.get(name, {}).items():
            if k == 'stages':
                out['stages'].update(v)
            else:
                out[k] += v
    return out


def task_skew(stages: dict) -> float:
    """max ÷ median task time in the stage whose slowest task is slowest
    (the stage a straggler holds up); 1.0 means perfectly even."""
    multi = [d for d in stages.values() if len(d) > 1]
    if not multi:
        return 1.0
    worst = max(multi, key=max)
    med = statistics.median(worst)
    return max(worst) / med if med > 0 else 1.0
