"""Seeded input generator for the ubabench workloads.

Writes parquet in the repository's testdata schema, so
`SparkEntry.tbl(spark, dir, name)` reads it unchanged:

  events    event_id int64, ts timestamp[us], user_id int64,
            event_type string, value double, props string
  documents doc_id int64, text string, lang string, source string,
            n_chars int64

The same (seed, knobs) give byte-identical files; every random draw comes
from one numpy PCG64 stream per table, and the parquet writer is pinned to
one row group, one compression codec and no pandas metadata.

The stream's events.parquet is in send order. Ground truth the program
must not see (near-dup families, how late the stream's events are) goes to
truth.json beside the inputs, never inside them.
"""

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 30 words of the repository's sf0.1 `documents` table (its 31st
# token, "dup", only marks planted copies there) head a fixed 2000-word
# vocabulary; the rest are pseudo-words from a constant seed. 30 words
# alone make every 8-char gram common, so winnowing's document-frequency
# cap would drop every shared fingerprint and find no excerpt at all.
TESTDATA_WORDS = ("spark window merge table column vector stream value data small "
                  "join filter big group hash customer sort order slow line part "
                  "fast row the agg key query a scan batch").split()


def _vocabulary(n=2000):
    rng = np.random.Generator(np.random.PCG64(20240101))
    letters = np.array(list("etaoinshrdlucmfwypvbgkjqxz"))
    p = 1.0 / np.arange(1, 27)
    words, seen = list(TESTDATA_WORDS), set(TESTDATA_WORDS)
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10)), p=p / p.sum()))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocabulary()

EVENT_TYPES = np.array(["view", "click", "purchase", "error"])
EVENT_TYPE_P = np.array([0.35, 0.30, 0.15, 0.20])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.42, 0.15, 0.15, 0.14, 0.14])

JAN1_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000
MONTH_DAYS = 31

# Knob values per workload; README.md gives the reason for each.
EVENTS_BATCH = dict(n_events=60_000, n_users=6_000, zipf_s=0.8,
                    hot_share=0.05, signup_frac=0.9, span_days=30)
EVENTS_STREAM = dict(n_events=20_000, n_users=2_000, zipf_s=0.8, hot_share=0.05,
                     signup_frac=0.9, span_days=6,
                     late_share=0.05, late_max_s=1800)
DOCS = dict(n_docs=800, min_words=20, max_words=60, word_zipf_s=1.0,
            exact_dup_rate=0.05, near_dup_rate=0.08, near_dup_max_variants=3,
            near_dup_edits=1, excerpt_rate=0.03, excerpt_words=(12, 20),
            eval_mod=20)


def _rng(seed, table):
    # one independent stream per (seed, table): inputs of one table never
    # shift when another table's knobs change
    return np.random.Generator(np.random.PCG64([int(seed), sum(map(ord, table))]))


def _write(table, path):
    pq.write_table(table, str(path), compression="snappy",
                   row_group_size=max(1, table.num_rows), use_dictionary=True,
                   write_statistics=True, store_schema=False)


def make_events(seed, n_events, n_users, zipf_s, hot_share, signup_frac,
                span_days, table="events"):
    """Returns a dict of numpy columns sorted by event time, with strictly
    increasing µs timestamps inside January 2024.

    Activity per user is Zipf(zipf_s) over a random rank order, except
    the rank-1 user, who holds `hot_share` of all rows. A `signup_frac`
    share of users start with a signup, always their earliest event, so
    every purchase follows its user's signup. Each user's events fall in
    `span_days` days from their first event."""
    rng = _rng(seed, table)
    hot_n = int(round(n_events * hot_share))
    rest = n_events - hot_n - (n_users - 1)
    if rest < 0:
        raise ValueError("n_events too small for n_users")
    ranks = np.arange(2, n_users + 1, dtype=np.float64)
    w = ranks ** -zipf_s
    counts = np.empty(n_users, dtype=np.int64)
    counts[0] = hot_n
    counts[1:] = 1 + rng.multinomial(rest, w / w.sum())
    users = rng.permutation(n_users).astype(np.int64)  # rank -> user id
    user_of = np.repeat(users, counts)

    span_us = span_days * DAY_US
    last_start = MONTH_DAYS * DAY_US - span_us - 60_000_000
    start = rng.integers(0, max(1, last_start), size=n_users)
    start_of = np.repeat(start, counts)
    first = np.zeros(n_events, dtype=bool)
    first[np.cumsum(counts) - counts] = True
    offs = rng.integers(1, span_us, size=n_events)
    offs[first] = 0
    ts = JAN1_US + start_of + offs

    has_signup = rng.random(n_users) < signup_frac
    etype = rng.choice(EVENT_TYPES, size=n_events, p=EVENT_TYPE_P).astype(object)
    etype[first & np.repeat(has_signup, counts)] = "signup"
    value = np.round(rng.exponential(50.0, size=n_events), 2)
    props = np.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=n_events)],
                     dtype=object)

    order = np.argsort(ts, kind="stable")
    ts = ts[order] + np.arange(n_events)  # strictly increasing, still in January
    return dict(event_id=np.arange(n_events, dtype=np.int64), ts=ts,
                user_id=user_of[order], event_type=etype[order],
                value=value[order], props=props[order])


def events_table(ev):
    return pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(ev["event_type"], pa.string()),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(ev["props"], pa.string()),
    })


def send_order(seed, ts, late_share, late_max_s):
    """Order in which the stream generator sends events: time order, except
    that a `late_share` share is held back by up to `late_max_s` of event
    time, so it arrives after newer events (late and out of order) but
    within the one-hour watermark delay, so the engine drops none."""
    rng = _rng(seed, "send")
    n = len(ts)
    delay = np.where(rng.random(n) < late_share,
                     rng.integers(1, late_max_s * 1_000_000, size=n), 0)
    return np.argsort(ts + delay, kind="stable")


def make_documents(seed, n_docs, min_words, max_words, word_zipf_s, exact_dup_rate,
                   near_dup_rate, near_dup_max_variants, near_dup_edits,
                   excerpt_rate, excerpt_words, eval_mod):
    """Returns (documents table, near-dup families).

    Base documents draw words from VOCAB with Zipf(word_zipf_s) frequencies
    by vocabulary rank. Planted on top:
    exact copies of a base document, near-dup families (a base plus 1..max
    variants, each with `near_dup_edits` word substitutions, so the word
    3-shingle Jaccard to the base stays near 0.88), and excerpts: documents
    carrying a 12-20-word span copied from an eval-slice document (doc_id
    % eval_mod == 0, the slice the pipeline decontaminates against)."""
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB, dtype=object)
    n_exact = int(n_docs * exact_dup_rate)
    n_near = int(n_docs * near_dup_rate)
    n_base = n_docs - n_exact - n_near
    p = 1.0 / np.arange(1, len(vocab) + 1) ** word_zipf_s
    p /= p.sum()
    words = [list(rng.choice(vocab, size=int(rng.integers(min_words, max_words + 1)), p=p))
             for _ in range(n_base)]
    family = list(range(n_base))  # family id of each generated doc
    kind = ["base"] * n_base
    heads = rng.choice(n_base, size=n_near, replace=True)
    made = 0
    for h in heads:
        if made >= n_near:
            break
        for _ in range(min(int(rng.integers(1, near_dup_max_variants + 1)), n_near - made)):
            v = list(words[h])
            for pos in rng.choice(len(v), size=near_dup_edits, replace=False):
                v[pos] = vocab[(VOCAB.index(v[pos]) + 1 + rng.integers(0, len(VOCAB) - 1)) % len(VOCAB)]
            words.append(v)
            family.append(int(h))
            kind.append("near")
            made += 1
    for src in rng.choice(n_base, size=n_exact, replace=True):
        words.append(list(words[src]))
        family.append(int(src))
        kind.append("exact")
    perm = rng.permutation(len(words))  # doc_id = position after the shuffle
    words = [words[i] for i in perm]
    family = [family[i] for i in perm]
    kind = [kind[i] for i in perm]
    eval_ids = np.arange(0, n_docs, eval_mod)
    sizes = np.bincount(family, minlength=n_base)  # excerpts never touch a family
    for d in np.flatnonzero(rng.random(n_docs) < excerpt_rate):
        if d % eval_mod == 0 or kind[d] != "base" or sizes[family[d]] > 1:
            continue
        src = words[int(rng.choice(eval_ids))]
        n = int(min(len(src), rng.integers(excerpt_words[0], excerpt_words[1] + 1)))
        at = int(rng.integers(0, len(src) - n + 1))
        words[d] = words[d][: len(words[d]) // 2] + src[at:at + n] + words[d][len(words[d]) // 2:]
    text = [" ".join(w) for w in words]
    lang = rng.choice(LANGS, size=n_docs, p=LANG_P)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang.astype(object), pa.string()),
        "source": pa.array(["src%d" % (i % 5) for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    families = {}
    for doc_id, f in enumerate(family):
        families.setdefault(f, []).append(doc_id)
    near = [sorted(m) for m in families.values() if len(m) > 1]
    return table, sorted(near)


def generate(workload, seed, out_dir):
    """Writes the inputs of one workload run into out_dir/in and the
    ground truth into out_dir/truth.json; returns the input row count."""
    out = Path(out_dir)
    (out / "in").mkdir(parents=True, exist_ok=True)
    truth = {}
    if workload == "uba_sweep":
        ev = make_events(seed, **EVENTS_BATCH)
        _write(events_table(ev), out / "in" / "events.parquet")
        rows = len(ev["ts"])
    elif workload == "curation_pipeline":
        table, near = make_documents(seed, **DOCS)
        _write(table, out / "in" / "documents.parquet")
        truth["near_dup_families"] = near
        rows = table.num_rows
    elif workload == "stream_ingest":
        knobs = {k: v for k, v in EVENTS_STREAM.items() if k not in ("late_share", "late_max_s")}
        ev = make_events(seed, table="stream", **knobs)
        order = send_order(seed, ev["ts"], EVENTS_STREAM["late_share"], EVENTS_STREAM["late_max_s"])
        sent = events_table({k: v[order] for k, v in ev.items()})
        _write(sent, out / "in" / "events.parquet")
        lateness = np.maximum.accumulate(ev["ts"][order]) - ev["ts"][order]
        truth["late_events"] = int((lateness > 0).sum())
        truth["max_lateness_s"] = float(lateness.max()) / 1e6
        rows = sent.num_rows
    else:
        raise ValueError("unknown workload %r" % workload)
    (out / "truth.json").write_text(json.dumps(truth))
    return rows
