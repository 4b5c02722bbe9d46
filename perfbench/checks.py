"""Output checks that do not use graft or a stored copy of its output.

Each check returns {"problems": [...], "failed_names": set()}: a problem
is a wrong output of an operation that did not fail; a failed name is a
query whose answer differs from DuckDB, so every run of it counts as a
failed operation.
"""
import glob
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq

import gen

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _all_ops(result):
    return result.get("warmup", []) + result["ops"]


def etl(result):
    """The read-back sink equals the generator's expected rows, and the
    exception counts equal the planted counts per class (the warm-up ran
    on the warm/ sample, which has its own truth)."""
    problems = []
    for i, op in enumerate(o for o in _all_ops(result) if o["ok"]):
        with open(os.path.join(op["input"], "truth.json")) as f:
            truth = json.load(f)
        expected = sorted(",".join(r) for r in truth["rows"])
        got = []
        for part in sorted(glob.glob(os.path.join(op["sink"], "*.csv"))):
            with open(part) as f:
                got += f.read().splitlines()[1:]  # each part has a header
        if sorted(got) != expected:
            problems.append("etl op %d: sink has %d rows, %d expected%s" % (
                i, len(got), len(expected),
                "" if len(got) != len(expected) else " (values differ)"))
        if op["exception_counts"] != truth["exception_counts"]:
            problems.append("etl op %d: exception counts %s, planted %s" % (
                i, op["exception_counts"], truth["exception_counts"]))
    return {"problems": problems, "failed_names": set()}


def _pairs(path):
    t = pq.read_table(path).to_pydict()
    return list(zip(t["id_a"], t["id_b"]))


def corpus(result):
    """Every reported pair clears its threshold when recomputed here, no
    pair joins a document to itself, every planted pair above the
    threshold is reported, and the survivor ids match the truth (the
    warm-up ran on the warm/ corpus, which has its own truth)."""
    problems = []
    for i, op in enumerate(o for o in _all_ops(result) if o["ok"]):
        with open(os.path.join(op["input"], "truth.json")) as f:
            truth = json.load(f)
        exact = set(truth["exact_survivor_ids"])
        text_surv = set(truth["text_survivor_ids"])
        survivors = set(truth["survivors"])
        d = op["dir"]
        got = set(pq.read_table(os.path.join(d, "survivors")).column("doc_id").to_pylist())
        if got != survivors:
            problems.append("dedup op %d: %d survivors, truth %d, %d differ" % (
                i, len(got), len(survivors), len(got ^ survivors)))
        found = {k: _pairs(os.path.join(d, k + "_pairs")) for k in ("minhash", "embedding")}
        docs = gen.corpus_lookup(op["input"], {x for ps in found.values() for p in ps for x in p})
        for kind, planted, ends, sim, t, eps in (
                ("minhash", truth["near_above"], exact,
                 lambda a, b: gen.jaccard(docs[a][0], docs[b][0]), gen.JACCARD_T, 1e-9),
                ("embedding", truth["emb_above"], text_surv,
                 lambda a, b: gen.cosine(docs[a][1], docs[b][1]), gen.COSINE_T, 1e-6)):
            # planted pairs whose both ends reach this step must be found
            expected = {tuple(p) for p in planted if p[0] in ends and p[1] in ends}
            seen = set()
            for a, b in found[kind]:
                if a == b:
                    problems.append("dedup op %d: %s self pair %d" % (i, kind, a))
                    continue
                key = (min(a, b), max(a, b))
                seen.add(key)
                v = sim(*key)
                if v < t - eps:
                    problems.append("dedup op %d: %s pair %s at %.4f < %.2f" % (
                        i, kind, key, v, t))
            missing = expected - seen
            if missing:
                problems.append("dedup op %d: %d planted %s pairs not reported, e.g. %s" % (
                    i, len(missing), kind, sorted(missing)[:3]))
    return {"problems": problems, "failed_names": set()}


def _frame_hash(df):
    """md5 over the column-name-sorted, row-sorted values, floats to 12
    significant digits."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.md5(df.to_csv(index=False, float_format="%.12g").encode()).hexdigest()


def _oracle_hash(data, sql, cache_dir):
    """DuckDB's answer hash for `sql` over the data dir, cached on disk."""
    key = hashlib.sha256((data + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data, t))
    df = con.execute(sql).fetchdf()
    rec = {"columns": sorted(df.columns), "rows": len(df), "hash": _frame_hash(df)}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(rec, f)
    return rec


def query_mix(data, out, result, cache_dir):
    """Each warm-up answer hashes equal to DuckDB's answer to the query's
    oracle SQL over the same files; every timed answer equals its
    warm-up answer (compared in the JVM)."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems, failed = [], set()
    for op in result["warmup"]:
        name = op["name"]
        if not op["ok"]:
            failed.add(name)  # no answer even when retried alone
            continue
        if name not in oracle:
            problems.append("%s: no oracle SQL" % name)
            continue
        try:
            exp = _oracle_hash(data, oracle[name], cache_dir)
            got_df = duckdb.connect().execute(
                "SELECT * FROM '%s/answers/%s.parquet/*.parquet'" % (out, name)).fetchdf()
        except Exception:  # noqa: BLE001 - an unreadable answer fails the query
            failed.add(name)
            continue
        got = {"columns": sorted(got_df.columns), "rows": len(got_df),
               "hash": _frame_hash(got_df)}
        if got != exp:
            failed.add(name)
    for op in result["ops"]:
        if op["ok"] and not op["same_as_warmup"]:
            problems.append("%s: answer differs from its warm-up answer" % op["name"])
    return {"problems": problems, "failed_names": failed}
