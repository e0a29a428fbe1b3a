#!/usr/bin/env python3
"""Output checks for the perfbench workloads, computed apart from the
program: from the generator's ground truth (truth.json), from the raw
generated inputs, and from DuckDB running each registered query's oracle
SQL (`SparkEntry.oracleSql`) over the generated tables.

`check(workload, input_dir, out_dir, truth)` returns (problems, quality):
an empty problem list means every output is correct; `quality` holds the
recall figures the benchmark reports. perfbench/selftest.py feeds each
check one perturbed output and fails unless the check catches it.
"""
import json
import os
import re
import glob

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
INDEX_RECORD = 32  # bytes of one pipe index record
RANK_DIGITS = 8  # q_part_rank rounds ranks to 8 decimals

# Registered queries held to the benchmark's own checks instead of their
# DuckDB oracle. The dedup pair queries are LSH-approximate by design (a
# near-duplicate pair can miss every band), while their oracle is the
# exact pair set, so an exact-equality gate would fail on a legitimate
# miss; each reported pair is instead re-verified at its exact Jaccard,
# the clusters are recomputed from the reported pairs, and the share of
# planted pairs found is reported as `planted_recall`.
OWN_CHECKS = {"q_text_minhash", "q_text_simhash", "q_dedup_cluster"}


def read(out, name):
    files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def load(out, names):
    return {n: read(out, n) for n in names}


def input_bytes(truth):
    """Logical input bytes of a workload: block payloads for the shuffle
    streams, corpus text for dedup, vectors plus text for ANN."""
    w = truth["workload"]
    if w == "shuffle_ledger":
        return truth["small"]["payload_bytes"] + truth["large"]["payload_bytes"]
    if w == "dedup_index":
        return truth["corpus_bytes"]
    return truth["input_bytes"]


# ----------------------------------------------------------------- oracle
def oracle_problems(inp, out, names):
    """Compare each registered query's output with its DuckDB oracle:
    same columns, same row count, same rows (sorted), exact values."""
    path = os.path.join(out, "oracle_sql.json")
    sqls = json.load(open(path)) if os.path.exists(path) else {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(inp, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    problems = []
    for q in names:
        got = read(out, f"q/{q}")
        if got is None:
            problems.append(f"{q}: no output")
            continue
        if q in OWN_CHECKS or q not in sqls:
            continue
        try:
            want = con.sql(sqls[q]).df()
        except Exception as e:  # an oracle that cannot run is a problem too
            problems.append(f"{q}: oracle error {e}")
            continue
        problems += frame_diff(q, got, want)
    return problems


def frame_diff(q, got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return [f"{q}: columns {gc} != oracle {wc}"]
    if len(got) != len(want):
        return [f"{q}: {len(got)} rows != oracle {len(want)}"]
    g = got[gc].sort_values(gc).reset_index(drop=True)
    w = want[wc].sort_values(wc).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return [f"{q}: differs from oracle: {str(e).splitlines()[0]}"]
    return []


# ---------------------------------------------------------------- shuffle
def shuffle_problems(d, truth):
    problems = []
    for tag in ("small", "large"):
        t = truth[tag]
        groups = t["groups"]
        got = d[f"scan_payload_{tag}"]
        seen = {f"{r.partition_id},{r.map_id}": r for r in got.itertuples()}
        if set(seen) != set(groups):
            problems.append(f"{tag} payload scan: groups differ from the stream")
        for k, g in groups.items():
            r = seen.get(k)
            if r is None:
                continue
            if r.n_blocks != g["physical"]:
                problems.append(f"{tag} ({k}): {r.n_blocks} raw blocks read, "
                                f"{g['physical']} written")
            if r.n_bytes != g["physical_bytes"]:
                problems.append(f"{tag} ({k}): payload bytes differ")
            if r.crc_sum != g["raw_crc_sum"]:
                problems.append(f"{tag} ({k}): payload CRC sum differs")
        files = d["final_files"]
        on_disk = int(files[files.tree == tag].bytes.sum())
        records = t["rows"] + len(groups)  # data records + one ledger per group
        want = INDEX_RECORD * records + t["payload_bytes"]
        if on_disk != want:
            problems.append(f"{tag} tree: {on_disk} bytes on disk, "
                            f"32 x {records} records + payload = {want}")
    # the lineage scan of the small tree: counts, latest attempt, ledgers
    small = truth["small"]
    bad = "{},{}".format(*small["corrupt"])
    flagged = set()
    for r in d["scan_lineage"].itertuples():
        k = f"{r.partition_id},{r.map_id}"
        g = small["groups"].get(k)
        if g is None:
            problems.append(f"lineage scan: unknown group ({k})")
            continue
        if r.n_blocks != g["physical"] or r.n_bytes != g["physical_bytes"]:
            problems.append(f"lineage scan ({k}): counts differ")
        if r.max_attempt != g["attempt"]:
            problems.append(f"lineage scan ({k}): latest attempt "
                            f"{r.max_attempt} != {g['attempt']}")
        if r.stored != g["ledger"]:
            flagged.add(k)
            if k == bad and r.stored != g["ledger"] + small["corrupt_delta"]:
                problems.append(f"ledger ({k}): corrupted by the wrong amount")
    if flagged != {bad}:
        problems.append(f"ledgers flagged {sorted(flagged)}, planted only ({bad})")
    for r in d["probes"].itertuples():
        g = small["groups"].get(f"{r.partition_id},{r.map_id}")
        want = g["physical"] if g else 0
        if r.n_blocks != want:
            problems.append(f"probe ({r.partition_id},{r.map_id}): "
                            f"{r.n_blocks} blocks, {want} written")
    if len(d["probes"]) != min(d["n_probes"], len(truth["probes"])):
        problems.append("probe results missing")
    rank = d["q/q_part_rank"]
    if rank is not None:
        total = float(rank["rank"].sum())
        tol = len(rank) * 0.5 * 10.0 ** -RANK_DIGITS + 1e-12
        if abs(total - 1.0) > tol:
            problems.append(f"q_part_rank: ranks sum to {total!r}, not 1")
    # planted faults the read path surfaces: every group of the retried
    # map read back at its retry attempt, and the corrupted ledger flagged
    lineage = d["scan_lineage"]
    retried = lineage[lineage.map_id == small["retried_map"]]
    plants = len(retried) + 1
    hit = int((retried.max_attempt == 1).sum()) + int(bad in flagged)
    return problems, {"planted_recall": hit / plants}


# ------------------------------------------------------------------ dedup
def tokens(text):
    return [t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t]


def shingles(text):
    t = tokens(text)
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def components(pairs):
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
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    return comp


def dedup_problems(d, inp, truth):
    problems = []
    th = truth["threshold"]
    docs = pd.read_parquet(os.path.join(inp, "documents.parquet"))
    sh = dict(zip(docs.doc_id, (shingles(t) for t in docs.text)))
    planted = {(a, b) for a, b, j in truth["planted_pairs"] if j >= th}
    recall = []
    for q in ("q_text_minhash", "q_text_simhash"):
        got = d[f"q/{q}"]
        if got is None:
            problems.append(f"{q}: no output")
            continue
        pairs = set()
        for r in got.itertuples():
            j = jaccard(sh[r.doc_a], sh[r.doc_b])
            if j < th or abs(j - r.jaccard) > 1e-9:
                problems.append(f"{q}: pair ({r.doc_a},{r.doc_b}) reported "
                                f"at {r.jaccard}, exact Jaccard {j}")
            pairs.add((min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)))
        recall.append(len(planted & pairs) / len(planted))
        if q == "q_text_minhash":
            comp = components(pairs)
            want = {(rep, len(m), sum(x - rep for x in m))
                    for rep, m in comp.items()}
            cl = d["q/q_dedup_cluster"]
            have = set() if cl is None else {
                (r.rep_id, r.cluster_size, r.id_span) for r in cl.itertuples()}
            if have != want:
                problems.append(f"q_dedup_cluster: {len(have)} clusters, the "
                                f"components of the reported pairs are {len(want)}")
    m = d["merge"].iloc[0]
    if m.docs_before != truth["n_docs"]:
        problems.append(f"index holds {m.docs_before} docs, corpus has {truth['n_docs']}")
    if m.docs_after != m.docs_before + truth["batch_new"] or \
            m.merge_doc_rows != m.docs_after:
        problems.append(f"merge: {m.docs_before} + {truth['batch_new']} new ids "
                        f"-> {m.docs_after} docs ({m.merge_doc_rows} reported)")
    # probes: every reported match is a true near-dup at its exact Jaccard,
    # and the planted near-dups are found
    pd_ = pd.read_parquet(os.path.join(inp, "probe_docs.parquet"))
    psh = dict(zip(pd_.doc_id, (shingles(t) for t in pd_.text)))
    probed = probed_batches(d, truth)
    found = set()
    for r in d["probes"].itertuples():
        j = jaccard(psh[r.doc_id], sh[r.match_id])
        if j < th or abs(j - r.jaccard) > 1e-9:
            problems.append(f"probe {r.doc_id}: match {r.match_id} at "
                            f"{r.jaccard}, exact Jaccard {j}")
        found.add(r.doc_id)
    batch_of = dict(zip(pd_.doc_id, pd_.batch))
    missed = [k for k in truth["probe_planted"]
              if batch_of[int(k)] in probed and int(k) not in found]
    if missed:
        problems.append(f"probe: planted near-dups not found: {missed[:5]}")
    return problems, {"planted_recall": float(np.mean(recall)) if recall else 0.0,
                      "recall_minhash": recall[0] if recall else 0.0}


def probed_batches(d, truth):
    """Probe batches run at least once (the JVM keeps the first cycle)."""
    return set(range(min(d["n_probes"], truth["probe_batches"])))


# -------------------------------------------------------------------- ann
def vectors(path):
    t = pd.read_parquet(path)
    return dict(zip(t.vec_id, (np.asarray(e, dtype=np.float64) for e in t.embedding)))


def ann_problems(d, inp, truth):
    """The retrieval layers of a traced shuffle_ledger run: `inp` is their
    input directory (<input>/ann), `truth` their part of the ground truth."""
    problems, quality = [], {}
    gt = {int(k): v for k, v in truth["gt_top10"].items()}
    n_merged = truth["n_vectors"] + truth["batch_new"]
    for name in ("search_ivf", "search_lsh", "search_ivfpq"):
        got = d[name]
        hits = 0
        for q, g in got.groupby("query_id"):
            ids = list(g.sort_values("rk").neighbor_id)
            if list(sorted(g.rk)) != list(range(1, len(ids) + 1)) or len(ids) > 10:
                problems.append(f"{name}: query {q} ranks {sorted(g.rk)}")
            if len(set(ids)) != len(ids) or any(i < 0 or i >= n_merged for i in ids):
                problems.append(f"{name}: query {q} returns unknown or repeated ids")
            hits += len(set(ids) & set(gt.get(int(q), [])))
        if set(got.query_id) - set(gt):
            problems.append(f"{name}: answers for unknown queries")
        quality[f"recall_{name[7:]}"] = hits / (10 * len(gt))
    m = d["merge"].iloc[0]
    if m.n_before != truth["n_vectors"] or m.n_after != n_merged:
        problems.append(f"merge: {m.n_before} + {truth['batch_new']} new ids "
                        f"-> {m.n_after} rows")
    corpus = vectors(os.path.join(inp, "embeddings.parquet"))
    probe = vectors(os.path.join(inp, "probe_vecs.parquet"))
    th = truth["probe_threshold"]
    probed = probed_batches(d, truth)
    batch_of = dict(zip(*pd.read_parquet(os.path.join(inp, "probe_vecs.parquet"),
                                         columns=["vec_id", "batch"]).T.values))
    found = set()
    for r in d["probes"].itertuples():
        a, b = probe[r.vec_id], corpus[r.match_id]
        cos = float(a @ b / np.linalg.norm(a) / np.linalg.norm(b))
        if cos < th - 1e-6:
            problems.append(f"probe {r.vec_id}: match {r.match_id} at cosine {cos}")
        found.add(r.vec_id)
    # the probe is LSH-bucketed, so a planted near-copy can legitimately
    # miss every probed bucket: its share found is reported, not gated
    planted = [k for k in truth["probe_planted"] if batch_of[int(k)] in probed]
    quality["probe_recall"] = (sum(int(k) in found for k in planted) / len(planted)
                               if planted else 1.0)
    return problems, quality


QUERIES = {
    "shuffle_ledger": ["q_pipe_scan", "q_pipe_latest", "q_pipe_checksum_verify",
                       "q_pipe_decode", "q_groupby_partial_final",
                       "q_groupby_highcard", "q_join_equi", "q_multi_join",
                       "q_sort_global", "q_distinct", "q_window_funcs",
                       "q_part_rank", "q_triangle_count"],
    "dedup_index": ["q_text_minhash", "q_text_simhash", "q_dedup_cluster"],
}
# the queries of the retrieval layers a traced shuffle_ledger run adds;
# they read that run's <input>/ann
ANN_QUERIES = ["q_ann_recall", "q_bm25_topk_idx", "q_hybrid_rrf"]
OUTPUTS = {
    "shuffle_ledger": ["scan_lineage", "scan_payload_small", "scan_payload_large",
                       "final_files", "probes"],
    "dedup_index": ["merge", "probes"],
    "ann": ["search_ivf", "search_lsh", "search_ivfpq", "merge", "probes"],
}


def outputs(workload, out):
    d = load(out, OUTPUTS[workload])
    with open(os.path.join(out, "jvm.json")) as f:
        d["n_probes"] = len(json.load(f)["probe_ms"])
    d.update({f"q/{q}": read(out, f"q/{q}") for q in QUERIES[workload]})
    return d


def check_outputs(workload, inp, d, truth):
    """The workload's own checks over loaded outputs `d`."""
    missing = [k for k in OUTPUTS[workload] if d.get(k) is None]
    if missing:
        return [f"missing outputs {missing}"], {"planted_recall": 0.0}
    if workload == "shuffle_ledger":
        return shuffle_problems(d, truth)
    if workload == "dedup_index":
        return dedup_problems(d, inp, truth)
    return ann_problems(d, inp, truth)


def ann_outputs(out, truth):
    d = load(out, OUTPUTS["ann"])
    d["n_probes"] = truth["probe_batches"]  # the segment probes every batch
    d.update({f"q/{q}": read(out, f"q/{q}") for q in ANN_QUERIES})
    return d


def check(workload, inp, out, truth, traced):
    problems, quality = check_outputs(workload, inp, outputs(workload, out), truth)
    problems += oracle_problems(inp, out, QUERIES[workload])
    if workload == "shuffle_ledger" and traced:
        ain, aout = os.path.join(inp, "ann"), os.path.join(out, "ann")
        p, q = check_outputs("ann", ain, ann_outputs(aout, truth["ann"]),
                             truth["ann"])
        problems += [f"retrieval: {x}" for x in p]
        problems += [f"retrieval: {x}" for x in oracle_problems(ain, aout, ANN_QUERIES)]
        quality.update(q)
    return problems, quality
