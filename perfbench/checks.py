"""Correctness checks, computed apart from graft and outside the timed
window. `run` returns (problems, missed): problems are outputs that are
wrong (the run is not correct); missed maps an operation name to the
quality floor its output falls below, which counts the operation as failed.

- sbom_ingest: stored rows, every read after an insert, the merge-mode
  table and the compaction file counts against gen_sbom's model.
- corpus_curation: cc labels against a union-find over the collected
  pairs; pipe_train_corpus equals a restatement over those labels (whose
  survivors have distinct labels); ann_pq hits are exactly re-ranked;
  ann_recall's hit counts equal those of ann_ivf, ann_pq and
  ann_ivfpq_residual against a numpy brute-force kNN; and recall@10
  against that kNN meets the floors graft's AnnSpec asserts (ann_ivf and
  ann_pq at least 0.4, ann_recall at least 4.0 mean hits for ivf, pq
  and ivfpq).
"""
import collections
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))


def _read(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(name, got, want):
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} != oracle {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows != oracle {len(b)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            eq = (av.isna() & bv.isna()) | (av == bv)
        else:
            eq = (av.isna() & bv.isna()) | (av.astype(object) == bv.astype(object))
        if not eq.all():
            i = (~eq).idxmax()
            return [f"{name}: column {c} row {i}: got {av[i]!r}, oracle {bv[i]!r}"]
    return []


def check_ingest(work, plan, model, res):
    import gen_sbom
    con = duckdb.connect()
    ex = res["extra"]
    docs, mapping = model["docs"], model["mapping"]
    rows_of = [gen_sbom.expected_rows(d, mapping) for d in docs]
    merged = gen_sbom.expected_merged(model["merge"], mapping)
    problems = []

    def expected(table, n_inserts):
        if table == "merged_json":
            return list(merged)
        mine = [r for d, r in zip(docs, rows_of) if gen_sbom.table_name(d["repo"]) == table]
        full, part = divmod(n_inserts, len(mine))
        return [row for k, r in enumerate(mine) for row in r * (full + (k < part))]

    cols = ["name", "version", "license", "source", "purl"]
    for table in plan["tables"] + ["merged_json"]:
        got = _read(con, os.path.join(work, "out", table))[cols]
        got = collections.Counter(tuple(None if pd.isna(v) else v for v in r)
                                  for r in got.itertuples(index=False))
        want = collections.Counter(expected(table, ex["inserted"].get(table, 0)))
        if got != want:
            diff = list((got - want).items())[:2] + list((want - got).items())[:2]
            problems.append(f"{table}: stored rows differ from the model, e.g. {diff}")
    for rd in ex["reads"]:
        rows = expected(rd["table"], rd["inserts"])
        agg = {}
        for (n, _v, lic, _s, purl) in rows:
            a = agg.setdefault(lic, [0, set(), 0])
            a[0] += 1
            a[1].add(n)
            a[2] += purl is None
        want = sorted([lic, str(a[0]), str(len(a[1])), str(a[2])] for lic, a in agg.items())
        if sorted(rd["rows"]) != want:
            problems.append(f"read of {rd['table']} after {rd['inserts']} inserts differs from the model")
            break
    target = plan["compact_target_bytes"]
    for table, part, files, size in ex["files_per_partition"]:
        if table != "merged_json" and files > max(1, math.ceil(size / target)):
            problems.append(f"{table}/{part}: {files} files after compaction, target "
                            f"{max(1, math.ceil(size / target))}")
    if not any(c["partitions"] for c in ex["compactions"]):
        problems.append("no compaction rewrote a partition")
    return problems


def _union_find_labels(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "on", "for", "with"}


def _train_corpus(docs, labels):
    """pipe_train_corpus restated: quality gate, exact dedup (min id per
    lower-cased text), near dedup (one survivor per cc label: the smallest
    id among exact survivors), then a per-source hash-ordered sample."""
    import hashlib
    gated = {}
    for d, text, src in docs.itertuples(index=False):
        words = text.strip().split()
        if len(words) >= 20 and sum(w in STOPWORDS for w in words) / len(words) >= 0.05:
            gated[d] = (src, hashlib.md5(text.lower().encode()).hexdigest())
    first = {}
    for d, (_src, k) in gated.items():
        first[k] = min(d, first.get(k, d))
    exact = {d: src for d, (src, k) in gated.items() if first[k] == d}
    keeper = {}
    for d in exact:
        g = labels.get(d, d)
        keeper[g] = min(d, keeper.get(g, d))
    near = {d: src for d, src in exact.items() if keeper[labels.get(d, d)] == d}
    # no two survivors share a label, by construction of `keeper`
    by_src = collections.defaultdict(list)
    for d, src in near.items():
        by_src[src].append(d)
    final = set()
    for src, ids in by_src.items():
        ids.sort(key=lambda d: ((d * 2654435761) % 2147483648, d))
        final.update(ids[:len(ids) * (40 if len(src) % 2 == 0 else 10) // 100])
    rows = collections.defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for d, _text, src in docs.itertuples(index=False):
        r = rows[src]
        r[0] += 1
        r[1] += d in gated
        r[2] += d in exact
        r[3] += d in near
        r[4] += d in final
        r[5] += d if d in final else 0
    return pd.DataFrame([[s] + r for s, r in rows.items()],
                        columns=["source", "n_raw", "n_gated", "n_exact", "n_near", "n_final",
                                 "final_id_sum"])


def check_curation(work, plan, res):
    con = duckdb.connect()
    out = os.path.join(work, "out")
    problems = []
    pairs = _read(con, f"{out}/sim_pairs")
    labels = _read(con, f"{out}/cc_labels")
    uf = _union_find_labels(zip(pairs["id1"].tolist(), pairs["id2"].tolist()))
    got = dict(zip(labels["id"].tolist(), labels["label"].tolist()))
    if got != uf:
        bad = [k for k in set(got) | set(uf) if got.get(k) != uf.get(k)][:3]
        problems.append(f"cc_labels differ from union-find over {len(pairs)} pairs, e.g. ids {bad}")
    tables = plan["tables"]
    docs = con.execute(f"SELECT doc_id, text, source FROM read_parquet('{tables}/documents.parquet/*.parquet')"
                       ).fetchdf()
    want = _train_corpus(docs, uf)
    problems += _same("pipe_train_corpus", _read(con, f"{out}/pipe_train_corpus"), want)
    emb = con.execute(f"SELECT vec_id, embedding FROM read_parquet('{tables}/embeddings.parquet/*.parquet') "
                      "ORDER BY vec_id").fetchdf()
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = emb["vec_id"].to_numpy()
    def truth(q):
        cos = vecs @ vecs[np.searchsorted(ids, q)]
        return cos, ids[np.argsort(-cos, kind="stable")[:10]]

    def hits_of(op):
        """Per query: how many of the operator's results are in the true top ten."""
        got = _read(con, f"{out}/{op}")
        return {int(q): len(set(truth(q)[1]) & set(g["vec_id"].tolist())) for q, g in got.groupby("query_id")}

    missed = {}
    hits = {m: hits_of(op) for m, op in
            (("ivf", "ann_ivf"), ("pq", "ann_pq"), ("ivfpq", "ann_ivfpq_residual"))}
    print("[perfbench] recall@10 against the numpy kNN: " + ", ".join(
        f"{m} {sum(h.values())}/{10 * len(h)}" for m, h in hits.items()), file=sys.stderr)
    for m, op in (("ivf", "ann_ivf"), ("pq", "ann_pq")):
        found, total = sum(hits[m].values()), 10 * len(hits[m])
        if not total or found / total < 0.4:
            missed[op] = f"recall@10 {found}/{total} below 0.4"
    # ann_recall: its counts are those of the three operators, and each
    # family's mean hits reach 4.0
    rec = _read(con, f"{out}/ann_recall")
    low = []
    for m in ("ivf", "pq", "ivfpq"):
        got = {int(q): int(n) for q, n in rec[rec["method"] == m][["query_id", "n_hits"]].itertuples(index=False)}
        if got != hits[m]:
            problems.append(f"ann_recall: {m} hits {got} != {hits[m]} against the numpy kNN")
        mean = sum(hits[m].values()) / len(hits[m]) if hits[m] else 0.0
        if mean < 4.0:
            low.append(f"{m} mean hits {mean:.1f} below 4.0")
    if low:
        missed["ann_recall"] = "; ".join(low)
    # PQ: ADC candidates re-ranked exactly, so every hit carries its exact
    # cosine, ten per query in descending order, the query itself first.
    pq_hits = _read(con, f"{out}/ann_pq")
    for q, g in pq_hits.groupby("query_id"):
        g = g.sort_values("rnk")
        cos = truth(q)[0][np.searchsorted(ids, g["vec_id"].to_numpy())]
        if (len(g) != 10 or g["vec_id"].iloc[0] != q or np.abs(cos - g["cos"].to_numpy()).max() > 1e-5
                or (np.diff(g["cos"].to_numpy()) > 0).any()):
            problems.append(f"ann_pq: query {q} hits are not ten exact-cosine re-ranked results")
            break
    return problems, missed


def run(workload, work, plan, model, res):
    if workload == "sbom_ingest":
        return check_ingest(work, plan, model, res), {}
    return check_curation(work, plan, res)
