"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and writes
parquet in the layout `graft.sources.Tables` reads (`<dir>/events.parquet`,
`<dir>/documents.parquet`). The engine sees only these files (and, for the
live feed, the wire messages built from the same ticks).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START_S = 1704067200  # 2024-01-01 00:00:00 UTC, the reference fixtures' epoch
STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def pair_names(n):
    return [f"P{i:02d}/JPY" for i in range(n)]


def ticks(seed, pairs, seconds, extra_share=0.15, invalid_share=0.005,
          start_s=START_S):
    """Dense tick history: one tick per pair per second at a random
    sub-second offset, `extra_share` more ticks inside already-ticked seconds
    (the per-second dedup's losers) and `invalid_share` non-positive quotes
    (the validity filter's losers). Returns numpy columns in time order."""
    rng = np.random.default_rng(seed)
    names = pair_names(pairs)
    n_base = pairs * seconds
    pid = np.repeat(np.arange(pairs), seconds)
    sec = np.tile(np.arange(seconds), pairs)
    # random-walk mid per pair, 3 decimals like a JPY quote
    steps = rng.normal(0.0, 0.01, size=(pairs, seconds))
    level = 100.0 + 10.0 * rng.random(pairs)
    bid = np.round(level[:, None] + np.cumsum(steps, axis=1), 3).reshape(-1)
    n_extra = int(round(n_base * extra_share))
    xi = rng.integers(0, n_base, n_extra)
    n_bad = int(round(n_base * invalid_share))
    bi = rng.integers(0, n_base, n_bad)
    pid = np.concatenate([pid, pid[xi], pid[bi]])
    sec = np.concatenate([sec, sec[xi], sec[bi]])
    bid = np.concatenate([bid, np.round(bid[xi] + rng.normal(0, 0.005, n_extra), 3),
                          -np.round(rng.random(n_bad), 3)])
    us = (start_s + sec).astype(np.int64) * 1_000_000 + \
        rng.integers(0, 1_000_000, pid.size)
    order = np.lexsort((pid, us))
    props = dict(pairs=pairs, seconds=seconds, rows=int(pid.size),
                 dup_tick_share=round(n_extra / pid.size, 6),
                 invalid_quote_share=round(n_bad / pid.size, 6))
    return names, pid[order], us[order], bid[order], props


def write_events(path, seed, pairs, seconds, **kw):
    names, pid, us, bid, props = ticks(seed, pairs, seconds, **kw)
    rng = np.random.default_rng(seed + 1)
    n = pid.size
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 200, n).astype(np.int64)),
        "event_type": pa.array(np.array(names, dtype=object)[pid]),
        "value": pa.array(bid),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, path)
    return props


def wire_messages(seed, pairs, seconds, start_s):
    """Wire JSON for ticks (the reference endpoint's message shape), in
    send order, plus the events table of the same ticks (event_id = send
    order, so the oracle's (time, seq) dedup picks the first one sent)."""
    names, pid, us, bid, props = ticks(seed, pairs, seconds, start_s=start_s)
    msgs = []
    for p, u, b in zip(pid, us, bid):
        s, f = divmod(int(u), 1_000_000)
        iso = np.datetime_as_string(np.datetime64(s, "s")) + f".{f:06d}Z"
        msgs.append('{"symbol":"%s","timestamp":"%s","bid":"%.3f","ask":"%.3f"}'
                    % (names[p].replace("/", "_"), iso, b, b + 0.01))
    return names, pid, us, bid, msgs, props


def write_ticks_as_events(path, names, pid, us, bid):
    n = pid.size
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(us, type=pa.timestamp("us")),
        "user_id": pa.array(np.zeros(n, dtype=np.int64)),
        "event_type": pa.array(np.array(names, dtype=object)[pid]),
        "value": pa.array(bid),
        "props": pa.array(['{"k": 1}'] * n),
    }), path)


def _vocab():
    # fixed, seed-independent vocabulary: 1,600 pronounceable words
    cons, vow = "bdfgklmnprstvz", "aeiou"
    syl = [c + v for c in cons for v in vow]
    return [a + b + c for a in syl[:20] for b in syl[:20] for c in syl[:4]]


def write_documents(path, seed, n_docs, exact_share=0.05, near_share=0.08):
    """Documents with planted duplicate clusters.

    - Word counts are log-normal (8..600 words); a fifth of the words are
      English stopwords, so the quality floor removes the short docs.
    - `exact_share` of the docs are copies of an earlier doc that differ only
      in case and whitespace (the exact-dup canon keeps the lowest doc_id).
    - `near_share` of the docs are one-word edits of an earlier doc with at
      least 80 words: Jaccard over 3-word shingles >= (n-3)/(n+3) > 0.92,
      far above the 0.8 threshold. The original always has the lower
      doc_id, so the near-dup losers are exactly the edited copies.

    Returns the input properties and the planted near-dup loser ids."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab())
    zipf = 1.0 / np.arange(1, vocab.size + 1)
    zipf /= zipf.sum()
    lens = np.clip(np.round(rng.lognormal(3.9, 0.9, n_docs)), 8, 600).astype(int)
    words = []
    kind = np.zeros(n_docs, dtype=np.int8)  # 0 original, 1 exact, 2 near
    r = rng.random(n_docs)
    losers = []
    for i in range(n_docs):
        long_bases = [j for j in range(max(0, i - 400), i)
                      if kind[j] == 0 and len(words[j]) >= 80]
        if i > 0 and r[i] < exact_share:
            j = int(rng.integers(0, i))
            while kind[j] != 0:
                j = int(rng.integers(0, i))
            words.append(list(words[j]))
            kind[i] = 1
        elif r[i] < exact_share + near_share and long_bases:
            j = long_bases[int(rng.integers(0, len(long_bases)))]
            w = list(words[j])
            k = int(rng.integers(0, len(w)))
            w[k] = "edit" + str(int(rng.integers(0, 1_000_000)))
            words.append(w)
            kind[i] = 2
            losers.append(i)
        else:
            n = lens[i]
            w = rng.choice(vocab, n, p=zipf)
            stop = rng.random(n) < 0.2
            w[stop] = rng.choice(STOPWORDS, int(stop.sum()))
            words.append(list(w))
    texts = []
    for i, w in enumerate(words):
        t = " ".join(w)
        if kind[i] == 1:
            t = "  " + t.upper().replace(" ", "  ", 3) + " "
        texts.append(t)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "es"], n_docs)),
        "source": pa.array([f"src{i % 8}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(table, path)
    nw = np.array([len(w) for w in words])
    props = dict(docs=n_docs, exact_dup_share=round(float((kind == 1).mean()), 6),
                 near_dup_share=round(float((kind == 2).mean()), 6),
                 words_p10=int(np.percentile(nw, 10)),
                 words_p50=int(np.percentile(nw, 50)),
                 words_p90=int(np.percentile(nw, 90)), words_max=int(nw.max()))
    return props, losers


def save_json(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
