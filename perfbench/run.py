#!/usr/bin/env python3
"""graft's benchmark: one command per workload, seeded, self-checking.

    python3 perfbench/run.py --workload sync|dedup|queries|batch --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the benchmark
(an sbt build in perfbench/ that depends on the root project) into
`.bench_build/`; later runs reuse the build while the sources are unchanged.
Each run then

  1. generates the workload's inputs from the seed (gen.py),
  2. runs the workload in one JVM, started with the root `run` task's JVM
     options, as `local[k]` with k = min(4, cpus),
  3. checks the outputs, outside the timed window, and
  4. prints the effective config and the workload's detail figures, then, as
     the last line, one JSON object: correct, attempted, failed and metrics
     (the end-to-end metrics with --trace 0, the per-layer ones with
     --trace 1).

Workloads: sync (catch-up, then tail windows merged into a state table),
dedup (near-duplicate removal on a seeded corpus), queries (registered
queries on the sf0.01 fixture) and batch (dedup and queries in one process,
which is what BENCHMARK.json runs next to sync: three JVMs per round of
runs do not fit the benchmark's time budget).

Checks: sync compares the final state table with the generator's
latest-wins truth; dedup compares its outputs with the registered queries'
DuckDB oracles (tools/check_verify.py) and union-finds over the checked
pairs; queries compares each query's order-independent output digest with
perfbench/expected/queries_digests.json; batch makes both checks.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, '.bench_build')
FIXTURE = os.path.join(HERE, 'data', 'sf0.01')
EXPECTED = os.path.join(HERE, 'expected', 'queries_digests.json')
TEXT_PAIRS = 'd04_ngram_jaccard'
JVM_TIMEOUT_S = 150

# input sizes per workload (see gen.py)
SYNC = dict(n_keys=12_000, n_backlog=10, backlog_rows=800, n_tail=120, tail_rows=150,
            row_group_rows=3_000)
SYNC_WARM = dict(n_keys=2_000, n_backlog=3, backlog_rows=200, n_tail=2, tail_rows=50,
                 row_group_rows=1_000)
DEDUP = dict(n_base=200, n_replicas=250, max_chain=4)
DEDUP_WARM = dict(n_base=100, n_replicas=60, max_chain=4)


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, to reuse a build while valid."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, 'build.sbt'), os.path.join(ROOT, 'project'),
             os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'build.sbt'),
             os.path.join(HERE, 'project'), os.path.join(HERE, 'src', 'main')]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) if 'target' not in d for f in fs)
        for p in paths:
            if p.endswith(('.scala', '.sbt', '.properties', '.java')):
                h.update(p.encode())
                with open(p, 'rb') as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_cmd(*tasks):
    opts = ['-Dsbt.override.build.repos=true', '-Dsbt.offline=true',
            f'-Dsbt.global.base={BUILD}/sbt-global', f'-Dsbt.boot.directory={BUILD}/sbt-boot',
            '-Dsbt.log.noformat=true']
    repos = os.path.expanduser('~/.sbt/repositories')
    if os.path.isfile(repos):
        opts.append(f'-Dsbt.repository.config={repos}')
    return ['sbt', '--batch'] + opts + list(tasks)


def build():
    """Compile the benchmark and the library; returns (classpath, jvm options)."""
    for need in ('build.sbt', os.path.join('src', 'main', 'scala')):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f'no graft checkout here: {need} is missing under {ROOT}')
    launch = os.path.join(HERE, 'target', 'launch.txt')
    stamp = os.path.join(BUILD, 'build.stamp')
    digest = source_digest()
    if not (os.path.isfile(launch) and os.path.isfile(stamp) and open(stamp).read() == digest):
        os.makedirs(os.path.join(BUILD, 'tmp'), exist_ok=True)
        t = time.time()
        # every JVM sbt starts keeps its temp files and perf data in the checkout
        env = dict(os.environ, COURSIER_MODE='offline',
                   JAVA_TOOL_OPTIONS=f'-XX:-UsePerfData -Djava.io.tmpdir={BUILD}/tmp -Djna.tmpdir={BUILD}/tmp')
        r = subprocess.run(sbt_cmd('writeLaunch'), cwd=HERE, env=env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            fail(f'build failed (sbt exit {r.returncode})')
        with open(stamp, 'w') as f:
            f.write(digest)
        log(f'built in {time.time() - t:.0f}s')
    cp, opts, section = [], [], None
    for line in open(launch).read().splitlines():
        if line in ('[classpath]', '[javaOptions]'):
            section = line
        elif line:
            (cp if section == '[classpath]' else opts).append(line)
    return cp, opts


def jvm_options(opts):
    """The root run task's options, with heap and scratch dirs made local:
    shuffle/spill files go under the checkout instead of /dev/shm."""
    heap = os.environ.get('SPARK_DRIVER_MEM', '3g')
    out = []
    for o in opts:
        if o.startswith('-Xmx'):
            o = f'-Xmx{heap}'
        elif o.startswith('-Xms'):
            o = f'-Xms{heap}'
        elif o.startswith('-Dspark.local.dir='):
            o = f'-Dspark.local.dir={BUILD}/spark-local'
        out.append(o)
    return out + [f'-Djava.io.tmpdir={BUILD}/tmp', '-XX:-UsePerfData']


def generate(workload, seed, work):
    if workload == 'sync':
        info = gen.gen_sync(os.path.join(work, 'sync'), seed, **SYNC)
        gen.gen_sync(os.path.join(work, 'sync_warm'), seed + 1_000_003, **SYNC_WARM)
        return {k: v for k, v in info.items() if k != 'landings'}
    if workload in ('dedup', 'batch'):
        info = gen.gen_dedup(os.path.join(work, 'dedup'), FIXTURE, seed, **DEDUP)
        gen.gen_dedup(os.path.join(work, 'dedup_warm'), FIXTURE, seed + 1_000_003, **DEDUP_WARM)
        return info
    return {'fixture': 'perfbench/data/sf0.01'}


def run_jvm(cp, opts, args, work, t0):
    out = os.path.join(work, 'result.json')
    cores = min(4, os.cpu_count() or 1)
    cmd = ['java'] + jvm_options(opts) + ['-cp', os.pathsep.join(cp), 'perfbench.Main',
                                         '--workload', args.workload, '--seed', str(args.seed),
                                         '--seconds', str(args.seconds), '--trace', str(args.trace),
                                         '--t0-ms', str(int(t0 * 1000)), '--work', work,
                                         '--fixture', FIXTURE, '--out', out, '--cores', str(cores)]
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f'workload JVM passed {JVM_TIMEOUT_S}s; killed')
    if code != 0 or not os.path.isfile(out):
        fail(f'workload JVM exited {code}')
    with open(out) as f:
        return json.load(f)


def check_sync(res):
    import pyarrow.parquet as pq
    import pyarrow as pa
    c = res['check']
    truth = gen.sync_truth(os.path.join(res['_work'], 'sync'), c['landed'])
    got = pq.read_table(c['state_dir']).select(truth.column_names)
    got = got.take(pa.compute.sort_indices(got, [('user_id', 'ascending')]))
    if got.num_rows != truth.num_rows:
        return False, f'state has {got.num_rows} rows, truth {truth.num_rows}'
    for name in truth.column_names:
        if not got.column(name).equals(truth.column(name)):
            return False, f'state column {name} differs from the latest-wins truth'
    return True, f'state equals latest-wins truth ({truth.num_rows} keys, {c["landed"]} landings)'


def _components(pairs, nodes):
    """Min-id label of every node's connected component (union-find)."""
    parent = {i: i for i in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in nodes}


def check_dedup(res):
    """Embedding pairs and Lloyd output hash-match the registered queries'
    DuckDB oracles (tools/check_verify.py); text pairs match d04's oracle
    pair by pair; components and the kept set equal a union-find over the
    checked pairs."""
    c = res['check']
    dump, corpus = c['dump_dir'], c['corpus_dir']
    status = os.path.join(res['_work'], 'check_verify.json')
    tool = os.path.join(ROOT, 'tools', 'check_verify.py')
    r = subprocess.run([sys.executable, tool, corpus, dump, 'only=' + ','.join(c['oracle_checked']),
                        f'json_out={status}'], stdout=sys.stderr, stderr=sys.stderr, timeout=120)
    if r.returncode != 0:
        return False, f'oracle comparison exited {r.returncode}'
    with open(status) as f:
        results = json.load(f)['results']
    bad = {n: results.get(n, {}).get('status', 'missing') for n in c['oracle_checked']
           if results.get(n, {}).get('status') != 'ok'}
    if bad:
        return False, f'oracle mismatch: {bad}'
    import duckdb
    con = duckdb.connect()

    def rows(sql):
        return con.sql(sql).fetchall()
    # text pairs: every pair the LSH operator reports is a true pair with the
    # oracle's exact Jaccard; it may miss at most 1% of the oracle's pairs
    # (each miss is printed)
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet'")
    with open(os.path.join(dump, 'oracle_sql.json')) as f:
        oracle = {(a, b): j for a, b, j in rows(json.load(f)[TEXT_PAIRS])}
    got_pairs = {(a, b): j for a, b, j in rows(f"SELECT a, b, jaccard FROM '{dump}/{TEXT_PAIRS}/*.parquet'")}
    wrong = {p: j for p, j in got_pairs.items() if oracle.get(p) != j}
    if wrong:
        return False, f'{len(wrong)} text pairs absent from the oracle or with another Jaccard: {list(wrong)[:5]}'
    missed = sorted((p, oracle[p]) for p in oracle if p not in got_pairs)
    if missed:
        log(f'text pairs missed by the LSH operator: {missed}')
    if len(missed) > 0.01 * len(oracle):
        return False, f'text op missed {len(missed)} of {len(oracle)} oracle pairs'
    # embed op: clusters = components of the oracle-checked d07 pairs
    pairs = rows(f"SELECT a, b FROM '{dump}/d07_embed_neardup_lsh/*.parquet'")
    want = _components(pairs, {x for p in pairs for x in p})
    got = dict(rows(f"SELECT vec_id, cluster_id FROM '{dump}/embed_clusters/*.parquet'"))
    if got != want:
        return False, f'embed clusters differ from union-find over the checked pairs'
    # text op: keeps the min-id document of every ngram-Jaccard component
    ids = [r[0] for r in rows('SELECT doc_id FROM documents')]
    label = _components(list(got_pairs), ids)
    want_keep = sorted(i for i in ids if label[i] == i)
    got_keep = sorted(r[0] for r in rows(f"SELECT doc_id FROM '{dump}/text_keep/*.parquet'"))
    if got_keep != want_keep:
        return False, f'text op kept {len(got_keep)} documents, union-find keeps {len(want_keep)}'
    return True, (f'{len(c["oracle_checked"])} oracles hash-match; text pairs exact, '
                  f'{len(missed)} of {len(oracle)} missed; clusters and kept set equal union-find '
                  f'({len(set(want.values()))} clusters, {len(want_keep)} of {len(ids)} docs kept)')


def check_queries(res):
    got = res['check']['digests']
    with open(EXPECTED) as f:
        want = json.load(f)['digests']
    bad = [n for n in got if want.get(n) != got[n]]
    missing = [n for n in want if n not in got]
    if bad or missing:
        return False, f'digest mismatch: {bad}, missing: {missing}'
    return True, f'{len(got)} query digests match'


def check_batch(res):
    ok, detail = check_dedup(res)
    if not ok:
        return ok, detail
    ok2, detail2 = check_queries(res)
    return ok2, f'{detail}; {detail2}'


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=['sync', 'dedup', 'queries', 'batch'])
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--record', action='store_true',
                    help='queries only: write the expected digests instead of checking them')
    args = ap.parse_args()

    cp, opts = build()
    t0 = time.time()
    work = os.path.join(BUILD, 'work', f'{args.workload}-{args.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = generate(args.workload, args.seed, work)
        log(f'inputs: {json.dumps(inputs)} ({time.time() - t0:.1f}s)')
        res = run_jvm(cp, opts, args, work, t0)
        res['_work'] = work
        if 'error' in res:
            fail(f'workload failed: {res["error"]}')
        if args.record:
            if 'digests' not in res['check']:
                fail('--record applies to the queries and batch workloads only')
            os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
            with open(EXPECTED, 'w') as f:
                json.dump({'fixture': 'perfbench/data/sf0.01', 'digests': res['check']['digests']},
                          f, indent=1)
                f.write('\n')
            log(f'recorded {EXPECTED}')
        ok, detail = {'sync': check_sync, 'dedup': check_dedup,
                      'queries': check_queries, 'batch': check_batch}[args.workload](res)
        log(('check ok: ' if ok else 'CHECK FAILED: ') + detail)
        correct = ok and res['failed'] == 0
        metrics = res['per_layer'] if args.trace else res['end_to_end']
        spans = None
        if res.get('spans_file'):
            spans = os.path.join(BUILD, 'spans', f'{args.workload}-{args.seed}.json')
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(res['spans_file'], spans)
        print(json.dumps({'config': res['config']}))
        print(json.dumps({'workload': args.workload, 'seed': args.seed,
                          'inputs': {**inputs, **res['inputs']},
                          'check': detail, 'samples': res['samples'],
                          'workload_metrics': res['workload_metrics'],
                          'spans': spans}))
        print(json.dumps({
            'correct': correct, 'attempted': res['attempted'], 'failed': res['failed'],
            'metrics': {k: {'value': v, 'unit': res['units'][k]} for k, v in metrics.items()}}))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == '__main__':
    sys.exit(main())
