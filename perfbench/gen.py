"""Seeded input generators for the perfbench workloads.

Every input is a pure function of the seed: the same seed writes the same
files and the same expected answers. The program under test only ever sees
the files; the expected answers stay on this side.

sync   an export directory for one events-shaped table, in the reference's
       naming scheme `{schema}-{table}-{start}-{end}.(parquet|empty)`: a
       multi-row-group full export, a backlog of incrementals, and a tail of
       windows that land one at a time. Tail windows mix updates to existing
       keys, new keys and stale out-of-order rows that must lose; some
       windows are `.empty` markers and one window is re-uploaded.
dedup  a replicate-and-perturb corpus built from the fixture's documents and
       embeddings: chains of near-duplicates, each link a small perturbation
       of the previous one, so connected components need several hops.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA, TABLE = 'public', 'events'
EVENT_TYPES = np.array(['cast', 'like', 'recast', 'follow', 'reply', 'mention'])
T0 = 1_700_000_000          # end of the full export, epoch seconds
WINDOW_S = 300              # fixed incremental window length


def _events_table(user_id, ts_us, event_id, rng):
    n = len(user_id)
    et = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.uniform(0, 1000, n), 2)
    props = [f'{{"client":"c{c}","n":{k}}}' for c, k in zip(rng.integers(0, 8, n), rng.integers(0, 100, n))]
    return pa.table({
        'user_id': pa.array(user_id, pa.int64()),
        'ts_us': pa.array(ts_us, pa.int64()),
        'event_id': pa.array(event_id, pa.int64()),
        'event_type': pa.array(et, pa.string()),
        'value': pa.array(value, pa.float64()),
        'props': pa.array(props, pa.string()),
    })


def _name(start, end, ext='parquet'):
    return f'{SCHEMA}-{TABLE}-{start}-{end}.{ext}'


class _Keys:
    """Latest (ts_us, event_id) per key, to draw updates and stale rows."""

    def __init__(self):
        self.latest = {}
        self.next_key = 0
        self.next_event = 1

    def events(self, n):
        ids = np.arange(self.next_event, self.next_event + n, dtype=np.int64)
        self.next_event += n
        return ids


def _window_rows(keys, rng, start, end, n, share_update, share_stale):
    n_upd = int(n * share_update)
    n_stale = int(n * share_stale)
    n_new = n - n_upd - n_stale
    existing = np.fromiter(keys.latest.keys(), dtype=np.int64)
    upd = rng.choice(existing, n_upd, replace=False)
    stale = rng.choice(np.setdiff1d(existing, upd), n_stale, replace=False)
    new = np.arange(keys.next_key, keys.next_key + n_new, dtype=np.int64)
    keys.next_key += n_new
    lo, hi = start * 1_000_000, end * 1_000_000
    ts_upd = rng.integers(lo, hi, n_upd)
    ts_new = rng.integers(lo, hi, n_new)
    # stale: strictly older than the key's current latest, so it must lose
    ts_stale = np.array([keys.latest[k][0] - 1 - int(rng.integers(0, 10_000_000)) for k in stale],
                        dtype=np.int64)
    user = np.concatenate([upd, new, stale])
    ts = np.concatenate([ts_upd, ts_new, ts_stale])
    ev = keys.events(len(user))
    order = rng.permutation(len(user))
    user, ts, ev = user[order], ts[order], ev[order]
    for u, t, e in zip(user.tolist(), ts.tolist(), ev.tolist()):
        cur = keys.latest.get(u)
        if cur is None or (t, e) > cur:
            keys.latest[u] = (t, e)
    return _events_table(user, ts, ev, rng)


def gen_sync(out, seed, n_keys, n_backlog, backlog_rows, n_tail, tail_rows,
             row_group_rows):
    """Write `out/export` (full + backlog), `out/tail/*` (tail windows) and
    `out/landings.json` (the order tail files land in). Returns a summary."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(out, ignore_errors=True)
    exp, tail = os.path.join(out, 'export'), os.path.join(out, 'tail')
    os.makedirs(exp)
    os.makedirs(tail)
    keys = _Keys()

    user = np.arange(n_keys, dtype=np.int64)
    keys.next_key = n_keys
    ts = rng.integers((T0 - 86_400) * 1_000_000, T0 * 1_000_000, n_keys)
    ev = keys.events(n_keys)
    keys.latest = {u: (t, e) for u, t, e in zip(user.tolist(), ts.tolist(), ev.tolist())}
    full = _events_table(user, ts, ev, rng)
    pq.write_table(full, os.path.join(exp, _name(0, T0)), row_group_size=row_group_rows)
    catchup_rows = n_keys

    start = T0
    # the backlog carries one .empty marker of its own
    backlog_empty = int(rng.integers(1, n_backlog))
    for i in range(n_backlog):
        end = start + WINDOW_S
        if i == backlog_empty:
            open(os.path.join(exp, _name(start, end, 'empty')), 'wb').close()
        else:
            t = _window_rows(keys, rng, start, end, backlog_rows, 0.6, 0.15)
            pq.write_table(t, os.path.join(exp, _name(start, end)))
            catchup_rows += t.num_rows
        start = end

    # tail: windows land in order; ~1 in 12 is an .empty marker and one early
    # window is re-uploaded a few landings after it first landed. One marker
    # and the re-upload fall in the first six landings, which every run makes.
    empties = set(rng.choice(np.arange(4, n_tail), max(1, n_tail // 12) - 1, replace=False).tolist())
    empties.add(int(rng.integers(1, min(4, n_tail))))
    landings = []
    for i in range(n_tail):
        end = start + WINDOW_S
        if i in empties:
            name = _name(start, end, 'empty')
            open(os.path.join(tail, name), 'wb').close()
        else:
            name = _name(start, end)
            t = _window_rows(keys, rng, start, end, tail_rows, 0.5, 0.25)
            pq.write_table(t, os.path.join(tail, name))
        landings.append(name)
        start = end
    first = int(rng.integers(0, min(2, n_tail)))
    while landings[first].endswith('.empty'):
        first = (first + 1) % n_tail
    reupload_at = first + 1 + int(rng.integers(1, 3))
    landings.insert(reupload_at, landings[first])

    summary = {'keys_full': n_keys, 'catchup_rows': catchup_rows,
               'backlog_windows': n_backlog, 'tail_windows': n_tail,
               'tail_empty': len(empties), 'reupload': landings[first],
               'reupload_landing': reupload_at, 'landings': landings}
    with open(os.path.join(out, 'landings.json'), 'w') as f:
        json.dump(summary, f)
    return summary


def sync_truth(out, n_landed):
    """Latest-wins state by (ts_us, event_id) per key after the export plus
    the first `n_landed` tail landings, computed without Spark."""
    with open(os.path.join(out, 'landings.json')) as f:
        landings = json.load(f)['landings'][:n_landed]
    exp = os.path.join(out, 'export')
    files = [os.path.join(exp, n) for n in sorted(os.listdir(exp)) if n.endswith('.parquet')]
    files += [os.path.join(out, 'tail', n) for n in dict.fromkeys(landings) if n.endswith('.parquet')]
    t = pa.concat_tables([pq.read_table(p) for p in files])
    idx = pa.compute.sort_indices(t, [('user_id', 'ascending'), ('ts_us', 'descending'),
                                      ('event_id', 'descending')])
    t = t.take(idx)
    user = t.column('user_id').to_numpy()
    keep = np.ones(len(user), dtype=bool)
    keep[1:] = user[1:] != user[:-1]
    return t.filter(pa.array(keep))


def _perturb_text(tokens, rng, vocab, n_edit):
    tokens = list(tokens)
    for _ in range(n_edit):
        i = int(rng.integers(0, len(tokens)))
        tokens[i] = vocab[int(rng.integers(0, len(vocab)))]
    return tokens


def gen_dedup(out, fixture, seed, n_base, n_replicas, max_chain):
    """Write `out/documents.parquet` and `out/embeddings.parquet` (plus the
    fixture's other tables, which the oracle tool opens as views): `n_base`
    documents and vectors drawn from the fixture, and `n_replicas`
    near-duplicates of them."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name in os.listdir(fixture):
        if name not in ('documents.parquet', 'embeddings.parquet'):
            shutil.copyfile(os.path.join(fixture, name), os.path.join(out, name))

    docs = pq.read_table(os.path.join(fixture, 'documents.parquet')).to_pylist()
    vocab = sorted({w for d in docs for w in d['text'].split()})
    docs = [docs[i] for i in sorted(rng.choice(len(docs), n_base, replace=False))]
    emb = pq.read_table(os.path.join(fixture, 'embeddings.parquet'))
    emb = emb.take(pa.array(sorted(rng.choice(emb.num_rows, n_base, replace=False))))
    base_vecs = np.array(emb.column('embedding').to_pylist(), dtype=np.float32)
    base_labels = emb.column('label').to_numpy()

    # chains: each link derives from the previous one, so the two ends of a
    # long chain can fall below the similarity threshold while every link
    # stays above it
    rep_docs, rep_vecs, rep_labels, depth = [], [], [], 0
    while len(rep_docs) < n_replicas:
        length = int(rng.integers(1, max_chain + 1))
        depth = max(depth, length)
        d = docs[int(rng.integers(0, len(docs)))]
        toks = d['text'].split()
        vi = int(rng.integers(0, len(base_vecs)))
        v = base_vecs[vi].astype(np.float64)
        for _ in range(length):
            if len(rep_docs) == n_replicas:
                break
            toks = _perturb_text(toks, rng, vocab, max(1, len(toks) // 40))
            rep_docs.append(dict(d, text=' '.join(toks), n_chars=len(' '.join(toks))))
            v = v + rng.normal(0, 0.15 * np.linalg.norm(v) / np.sqrt(len(v)), len(v))
            rep_vecs.append(v.astype(np.float32))
            rep_labels.append(base_labels[vi])

    all_docs = docs + rep_docs
    ids = rng.permutation(len(all_docs)).astype(np.int64)
    for d, i in zip(all_docs, ids.tolist()):
        d['doc_id'] = i
    all_docs.sort(key=lambda d: d['doc_id'])
    pq.write_table(pa.Table.from_pylist(all_docs, schema=pq.read_schema(
        os.path.join(fixture, 'documents.parquet')).remove_metadata()),
        os.path.join(out, 'documents.parquet'))

    vecs = np.concatenate([base_vecs, np.array(rep_vecs, dtype=np.float32)])
    labels = np.concatenate([base_labels, np.array(rep_labels, dtype=base_labels.dtype)])
    vids = rng.permutation(len(vecs)).astype(np.int64)
    order = np.argsort(vids)
    pq.write_table(pa.table({
        'vec_id': pa.array(vids[order], pa.int64()),
        'embedding': pa.array(list(vecs[order]), pa.list_(pa.float32())),
        'label': pa.array(labels[order], pa.int32()),
    }), os.path.join(out, 'embeddings.parquet'))
    return {'docs': len(all_docs), 'vecs': len(vecs),
            'near_dup_share': round(n_replicas / len(all_docs), 4),
            'max_chain_depth': depth}
