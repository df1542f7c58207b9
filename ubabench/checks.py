"""Correctness checks, run after the JVM has exited (outside every timed
region). Each returns {check name: passed}."""

import json
import math

import duckdb

import stats

# The near-dup stage's parameters, as Main.scala passes them to
# Dedup.minhashLshPairs: word 3-shingles, 32 hashes in 8 bands, verified
# at Jaccard >= 0.6.
SHINGLE, BANDS, ROWS, THRESHOLD = 3, 8, 4, 0.6


def _frame_key(cols, rows):
    """Columns sorted by name and rows sorted — the comparison of the
    repository's scripts/compare.py."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(r[i] for i in order) for r in rows)


def uba(work):
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM '%s'" % (work / "in" / "events.parquet"))
    oracle = json.loads((work / "out" / "oracle_sql.json").read_text())
    out = {}
    for name, sql in sorted(oracle.items()):
        try:
            sp = con.execute("SELECT * FROM '%s/*.parquet'" % (work / "out" / name)).fetchall()
            sp_cols = [d[0] for d in con.description]
            du = con.execute(sql).fetchall()
            du_cols = [d[0] for d in con.description]
            out["oracle." + name] = (_frame_key(sp_cols, sp) == _frame_key(du_cols, du)
                                     and len(sp) > 0)
        except duckdb.Error:
            out["oracle." + name] = False
    return out


def _ids(path):
    return {r[0] for r in duckdb.sql("SELECT doc_id FROM '%s/*.parquet'" % path).fetchall()}


def shingles(text):
    w = text.lower().split()
    return {" ".join(w[i:i + SHINGLE]) for i in range(max(1, len(w) - SHINGLE + 1))}


def collapse_probability(texts):
    """Lower bound on the chance that LSH joins a planted family into one
    component: every member must pair with one anchor (a star), each pair a
    candidate with probability 1 - (1 - J^rows)^bands and verified only at
    J >= THRESHOLD. Other paths through the family only raise it."""
    sh = [shingles(t) for t in texts]
    best = 0.0
    for a in range(len(sh)):
        p = 1.0
        for b in range(len(sh)):
            if b != a:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                p *= (1 - (1 - j ** ROWS) ** BANDS) if j >= THRESHOLD else 0.0
        best = max(best, p)
    return best


def min_collapsed(probs):
    """Collapsed families expected from the ground truth, less three
    standard deviations of that count."""
    mean = sum(probs)
    sd = math.sqrt(sum(p * (1 - p) for p in probs))
    return mean - 3 * sd


def curation(work, res):
    passes = res["passes"]
    truth = json.loads((work / "truth.json").read_text())
    uniq, clean = _ids(res["checks"]["uniq_dir"]), _ids(res["checks"]["clean_dir"])
    # families with two or more members past exact dedup must end with one
    families = [set(f) & uniq for f in truth["near_dup_families"]]
    families = [f for f in families if len(f) > 1]
    collapsed = sum(1 for f in families if len(f & clean) == 1)
    in_family = set().union(*families) if families else set()
    text = dict(duckdb.sql("SELECT doc_id, text FROM '%s'"
                           % (work / "in" / "documents.parquet")).fetchall())
    probs = [collapse_probability([text[d] for d in sorted(f)]) for f in families]
    return {
        "curation.manifest_repeats": len({stats.rows_digest(p["manifest"]) for p in passes}) == 1,
        "curation.keepers_repeat": len({p["keepers"] for p in passes}) == 1,
        "curation.near_dup_recall": bool(families) and collapsed >= min_collapsed(probs),
        "curation.no_false_merge": (uniq - in_family) <= clean,
    }


def stream(res):
    out = {}
    for i, (p, c) in enumerate(zip(res["passes"], res["checks"]["passes"])):
        out["stream.pass%d.state_equals_batch" % i] = (
            c["mismatched_users"] == 0 and c["users_streamed"] == c["users_batch"] > 0)
        lat = stats.batch_latencies(p["sent"], p["progress"])
        out["stream.pass%d.every_batch_completed" % i] = len(lat) == len(p["sent"]) > 0
    return out


def check(workload, res, work):
    if workload == "uba_sweep":
        out = uba(work)
    elif workload == "curation_pipeline":
        out = curation(work, res)
    else:
        out = stream(res)
    if "bench.unattributed_jobs" in res["layer"]:
        out["trace.jobs_sum_to_total"] = res["layer"]["bench.unattributed_jobs"] == 0
    return out
