#!/usr/bin/env python3
"""Benchmark of record for the Spark ER / curation engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload er_pages --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all     # every workload, both modes
    python3 perfbench/run.py --smoke            # the same at toy size

The first call builds the engine and the benchmark from source with sbt
(offline) and caches the classpath under .bench_build/; every later call
starts one JVM on local[nproc] and runs one workload in a closed loop.
The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Host state, run info and (with --trace 1) the span file land in
.bench_build/runs/. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, '.bench_build')
WORKLOADS = ['er_pages', 'corpus_graph']
# a run must end within 180 s (a build has its own allowance)
JVM_LIMIT_S = 170
BUILD_LIMIT_S = 850
# Spark 4 on JDK 17 needs these outside spark-submit (the engine's own
# build passes the same list to its forked runs).
ADD_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke',
             'java.base/java.lang.reflect', 'java.base/java.io',
             'java.base/java.net', 'java.base/java.nio',
             'java.base/java.util', 'java.base/java.util.concurrent',
             'java.base/java.util.concurrent.atomic', 'java.base/sun.nio.ch',
             'java.base/sun.nio.cs', 'java.base/sun.security.action',
             'java.base/sun.util.calendar']


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, 'build.sbt'), os.path.join(ROOT, 'project'),
            os.path.join(ROOT, 'src', 'main'), os.path.join(BENCH, 'build.sbt'),
            os.path.join(BENCH, 'project'), os.path.join(BENCH, 'src')]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, subs, fs in os.walk(top)
            for f in fs if 'target' not in d.split(os.sep)
            and not d.endswith(os.sep + 'project' + os.sep + 'project'))
        for p in paths:
            h.update(p.encode())
            with open(p, 'rb') as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build once per source digest; return the runtime classpath."""
    stamp = os.path.join(BUILD, 'classpath.json')
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get('digest') == digest:
            return cached['classpath']
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE='offline', SBT_OPTS=' '.join([
        '-Dsbt.override.build.repos=true', '-Dsbt.offline=true', '-Xmx2g']))
    proc = subprocess.run(
        ['sbt', '--batch', '-Dsbt.log.noformat=true',
         'export perfbench/Runtime/fullClasspath'],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith('['):
        sys.stderr.write(proc.stdout)
        fail('build failed')
    cp = lines[-1].strip()
    with open(stamp, 'w') as f:
        json.dump({'digest': digest, 'classpath': cp}, f)
    return cp


def host_state():
    with open('/proc/loadavg') as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open('/proc/stat') as f:
        cpu = f.readline().split()
    tick = os.sysconf('SC_CLK_TCK')
    return {'loadavg': load, 'steal_s': int(cpu[8]) / tick if len(cpu) > 8 else 0.0,
            'time': time.time()}


def run_jvm(cp, work, args, limit):
    # The heap is fixed and faulted in up front with huge pages: faulting it
    # in lazily during the timed operation reads as noise on a shared VM.
    # Temp files stay inside the work dir; no JVM perf-data file is kept.
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    cmd = (['java', '-Xms1536m', '-Xmx1536m', '-XX:+AlwaysPreTouch',
            '-XX:+UseTransparentHugePages', '-XX:+UseG1GC', '-XX:-UsePerfData',
            f'-Djava.io.tmpdir={tmp}']
           + [a for p in ADD_OPENS for a in ('--add-opens', f'{p}=ALL-UNNAMED')]
           + ['-cp', cp, 'perfbench.Main', '--work', work] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f'run exceeded {limit:.0f} s')
    lines = [l for l in out.splitlines() if l.startswith('{')]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f'benchmark JVM exited with {proc.returncode}')
    return json.loads(lines[-1])


def expected_metrics(trace):
    path = os.path.join(ROOT, 'BENCHMARK.json')
    with open(path) as f:
        spec = json.load(f)
    return {m['name']: m['unit']
            for m in spec['per_layer' if trace else 'end_to_end']}


def check_metrics(metrics, trace):
    want = expected_metrics(trace)
    got = {k: v.get('unit') for k, v in metrics.items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        fail(f'metrics differ from BENCHMARK.json: missing={missing} '
             f'extra={extra} wrong_unit={wrong}')
    bad = [k for k, v in metrics.items()
           if not isinstance(v.get('value'), (int, float))]
    if bad:
        fail(f'non-numeric metric values: {bad}')


def run_once(workload, seed, seconds, trace, scale):
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt'))
            and os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala'))):
        fail('run from the root of a checkout of the engine '
             '(build.sbt and src/main/scala not found)')
    if workload not in WORKLOADS:
        fail(f'unknown workload {workload!r}; one of {WORKLOADS}')
    cp = classpath()
    t_start = time.time()
    tag = f'{workload}-seed{seed}-trace{trace}-{scale}'
    work = os.path.join(BUILD, 'work', f'{tag}-{os.getpid()}')
    runs = os.path.join(BUILD, 'runs')
    os.makedirs(runs, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    host_start = host_state()
    try:
        res = run_jvm(cp, work, [
            '--workload', workload, '--seed', str(seed),
            '--seconds', str(seconds), '--trace', str(trace), '--scale', scale,
            '--cpus', str(cpus),
            '--spans', os.path.join(runs, f'{tag}.spans.jsonl')], JVM_LIMIT_S)
    finally:
        subprocess.run(['rm', '-rf', work])
    host_end = host_state()
    host = {'nproc': os.cpu_count(), 'parallelism': cpus,
            'loadavg_start': host_start['loadavg'],
            'loadavg_end': host_end['loadavg'],
            'steal_s_start': host_start['steal_s'],
            'steal_s_end': host_end['steal_s'],
            'steal_s_delta': host_end['steal_s'] - host_start['steal_s'],
            'wall_s': host_end['time'] - t_start}
    result = {'correct': bool(res['correct']), 'attempted': int(res['attempted']),
              'failed': int(res['failed']), 'metrics': res['metrics']}
    with open(os.path.join(runs, f'{tag}.json'), 'w') as f:
        json.dump({'result': result, 'host': host, 'info': res['info']}, f,
                  indent=1)
    return result, host


def run_all(scale, seed, seconds):
    """Every workload, untraced then traced. Each must pass its checks and
    print exactly the metrics BENCHMARK.json names, with their units."""
    summary = {}
    for workload in WORKLOADS:
        for trace in (0, 1):
            result, _ = run_once(workload, seed, seconds, trace, scale)
            check_metrics(result['metrics'], trace)
            if not result['correct'] or result['failed']:
                fail(f'{workload} trace={trace}: output checks failed')
            summary[f'{workload}/trace{trace}'] = {
                'error_rate': result['failed'] / result['attempted'],
                **{k: v['value'] for k, v in result['metrics'].items()}}
            print(json.dumps({workload: result}))
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', help=f'one of {WORKLOADS}, or all')
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=float, default=20)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--smoke', action='store_true',
                    help='every workload at toy size, traced and untraced')
    a = ap.parse_args()
    if a.smoke:
        run_all('toy', a.seed, 1)
        print(json.dumps({'smoke': 'ok'}))
    elif a.workload == 'all':
        print(json.dumps(run_all('full', a.seed, a.seconds)))
    elif a.workload:
        result, host = run_once(a.workload, a.seed, a.seconds, a.trace, 'full')
        check_metrics(result['metrics'], a.trace)
        print(json.dumps({'host': host}))
        print(json.dumps(result))
    else:
        fail('--workload or --smoke is required')


if __name__ == '__main__':
    main()
