#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Writes parquet tables in the fixture schema (FIXTURES.md) under <dir>, the
workload's own side inputs (block streams, merge batches, probe batches,
query vectors) and `truth.json`, the ground truth of every plant:

  shuffle_ledger  TPC-H-ish tables plus two pipe block streams (small
                  records and KB-sized records) with planted task retries
                  (superseded attempt 0), resends (same attempt and seq
                  written twice), and in the small stream one ledger to
                  corrupt after the write; under <dir>/ann the inputs of
                  the traced-only retrieval layers: clustered unit
                  vectors, a query batch whose true top-10 is computed
                  here by brute force, a merge batch, probe batches with
                  planted near-copies, and the corpus text;
  dedup_index     a text corpus with planted near-duplicate clusters of
                  three (a source and two edited copies) at known Jaccard,
                  some below the 0.8 threshold on purpose,
                  a merge batch (new and re-submitted ids) and probe
                  batches, every other one holding a planted near-dup.

The same seed gives byte-identical inputs. Nothing here imports the
program: ground truth is computed from the generated values alone.
"""
import argparse
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sizes, one place (README "Inputs" quotes these)
SIZES = {
    "shuffle_ledger": dict(orders=12000, customers=1200, suppliers=200,
                           parts=3000, small_parts=16, small_maps=8,
                           small_blocks=288, large_parts=8, large_maps=4,
                           large_blocks=120),
    "dedup_index": dict(vocab=4000, docs=3000, clusters=120, batch_new=160,
                        batch_resub=40, probe_batches=48, probe_size=4),
    # the retrieval inputs a traced shuffle_ledger run adds under <out>/ann
    "ann": dict(vectors=1000, dim=64, centers=50, queries=64, batch_new=160,
                batch_resub=40, probe_batches=4, probe_size=4),
}
JACCARD_THRESHOLD = 0.8
PROBE_COSINE = 0.9
NPROBE = 2
EPOCH_1992 = 694224000  # 1992-01-01 UTC, seconds


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------- shuffle
def gen_tpch(rng, out, z):
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_ = z["customers"], z["suppliers"], z["parts"]
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                    "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": seg[rng.integers(0, 5, nc)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(1, ns + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2)})
    types = np.array([f"{a} {b}" for a in ("STANDARD", "SMALL", "PROMO")
                      for b in ("ANODIZED TIN", "BRUSHED COPPER",
                                "POLISHED STEEL")])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(1, np_ + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, np_ + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, np_)],
        "p_type": types[rng.integers(0, len(types), np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, np_), 2)})
    no = z["orders"]
    okey = np.arange(1, no + 1, dtype=np.int64)
    odate = EPOCH_1992 + rng.integers(0, 2400, no) * 86400
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    write(out, "orders", {
        "o_orderkey": okey,
        "o_custkey": pa.array(rng.integers(1, nc + 1, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2),
        "o_orderdate": pa.array(odate * 1_000_000, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, no)]})
    nl = rng.integers(1, 8, no)
    lok = np.repeat(okey, nl)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nl]).astype(np.int32)
    n = len(lok)
    ship = np.repeat(odate, nl) + rng.integers(1, 122, n) * 86400
    write(out, "lineitem", {
        "l_orderkey": lok,
        "l_partkey": pa.array(rng.integers(1, np_ + 1, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, ns + 1, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship * 1_000_000, pa.timestamp("us"))})
    return {"lineitem_rows": int(n), "orders_rows": int(no)}


def gen_stream(rng, parts, maps, mean_blocks, lo, hi):
    """One pipe block stream. Per (partition, map): `n` logical blocks with
    seeded payloads. One map per stream is a task retry: its attempt 0
    wrote the first half of every partition's blocks and attempt 1
    rewrote them all. About 5% of the latest attempt's blocks are resent
    (written twice under the same attempt and seq). Returns the physical
    rows (shuffled) and the ground truth per (partition, map)."""
    retried = int(rng.integers(0, maps))
    rows, truth = [], {}
    for p in range(parts):
        for m in range(maps):
            n = int(rng.integers(mean_blocks // 2, mean_blocks * 3 // 2 + 1))
            att = 1 if m == retried else 0
            pays = [rng.bytes(int(rng.integers(lo, hi + 1))) for _ in range(n)]
            phys = 0
            raw_crc = 0
            if att == 1:
                for q in range(n // 2):
                    rows.append((p, m, 0, q, pays[q]))
                    phys += 1
                    raw_crc += zlib.crc32(pays[q])
            resent = rng.random(n) < 0.05
            for q in range(n):
                for _ in range(2 if resent[q] else 1):
                    rows.append((p, m, att, q, pays[q]))
                    phys += 1
                    raw_crc += zlib.crc32(pays[q])
            truth[f"{p},{m}"] = {
                "physical": phys, "logical": n, "attempt": att,
                "ledger": sum(zlib.crc32(b) for b in pays),
                "raw_crc_sum": raw_crc,
                "physical_bytes": sum(len(r[4]) for r in rows[-phys:]),
                "logical_bytes": sum(len(b) for b in pays)}
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    return rows, truth, retried


def write_stream(out, name, rows):
    write(out, name, {
        "partition_id": pa.array([r[0] for r in rows], pa.int32()),
        "map_id": pa.array([r[1] for r in rows], pa.int32()),
        "attempt_id": pa.array([r[2] for r in rows], pa.int64()),
        "seq_id": pa.array([r[3] for r in rows], pa.int32()),
        "payload": pa.array([r[4] for r in rows], pa.binary())})


def gen_shuffle(rng, out):
    z = SIZES["shuffle_ledger"]
    truth = {"tables": gen_tpch(rng, out, z)}
    for tag, (parts, maps, blocks, lo, hi) in {
            "small": (z["small_parts"], z["small_maps"], z["small_blocks"],
                      16, 64),
            "large": (z["large_parts"], z["large_maps"], z["large_blocks"],
                      1024, 8192)}.items():
        rows, t, retried = gen_stream(rng, parts, maps, blocks, lo, hi)
        write_stream(out, f"blocks_{tag}", rows)
        truth[tag] = {"groups": t, "retried_map": retried,
                      "rows": len(rows),
                      "payload_bytes": sum(len(r[4]) for r in rows)}
    # one ledger of the small stream is corrupted after the write; the
    # lineage scan of that tree must flag it and no other
    truth["small"].update(corrupt=[int(rng.integers(0, z["small_parts"])),
                                   int(rng.integers(0, z["small_maps"]))],
                          corrupt_delta=1)
    # probe schedule over the small stream: half the slices exist, half
    # name a map id the stream never wrote (a reducer asking for an empty
    # slice must get zero blocks back)
    sp = z["small_parts"]
    probes = []
    for i in range(64):
        p = int(rng.integers(0, sp))
        m = int(rng.integers(0, z["small_maps"]))
        if i % 2 == 1:
            m += z["small_maps"]
        probes.append([p, m])
    truth["probes"] = probes
    return truth


# ------------------------------------------------------------------ text
def words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, out = set(), []
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 9)))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def shingles(toks):
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def word_weights(n):
    """A bounded power law over vocabulary ranks: common words recur
    across documents (so unrelated documents share some shingles), but no
    word is frequent enough to make a seed's candidate volume swing."""
    w = 1.0 / (np.arange(n) + 20.0)
    return w / w.sum()


def random_doc(rng, vocab, lo, hi):
    n = int(rng.integers(lo, hi + 1))
    return [vocab[r] for r in rng.choice(len(vocab), n, p=word_weights(len(vocab)))]


def mutate(rng, toks, vocab, edits):
    t = list(toks)
    for _ in range(edits):
        t[int(rng.integers(0, len(t)))] = vocab[int(rng.integers(0, len(vocab)))]
    return t


def docs_table(out, name, ids, texts):
    write(out, name, {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * len(ids),
        "source": ["perfbench"] * len(ids),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def gen_dedup(rng, out):
    z = SIZES["dedup_index"]
    vocab = words(rng, z["vocab"])
    base = [random_doc(rng, vocab, 60, 140) for _ in range(z["docs"])]
    docs = list(base)
    planted = []  # (i, j, edits) positions in docs
    sources = rng.choice(z["docs"], z["clusters"], replace=False)
    for c, src in enumerate(int(x) for x in sources):
        members = [src]
        for k in range(2):
            # every third cluster's second copy is edited hard, so its
            # Jaccard to the rest falls under the threshold: pairs nobody
            # may report
            edits = 14 if (c % 3 == 0 and k == 1) else 1 + k
            docs.append(mutate(rng, base[src], vocab, edits))
            members.append(len(docs) - 1)
        planted.append(members)
    perm = rng.permutation(len(docs))  # doc_id of position i is perm[i]
    ids = [int(perm[i]) for i in range(len(docs))]
    texts = [" ".join(d) for d in docs]
    by_id = sorted(zip(ids, texts))
    docs_table(out, "documents", [i for i, _ in by_id], [t for _, t in by_id])
    pairs = []
    for members in planted:
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                j = jaccard(docs[a], docs[b])
                ia, ib = sorted((ids[a], ids[b]))
                pairs.append([ia, ib, j])
    n_docs = len(docs)
    # merge batch: new ids plus re-submitted (edited) existing ids
    resub = sorted(int(i) for i in rng.choice(n_docs, z["batch_resub"],
                                              replace=False))
    new_ids = list(range(n_docs, n_docs + z["batch_new"]))
    b_texts = [" ".join(random_doc(rng, vocab, 60, 140)) for _ in new_ids]
    b_texts += [" ".join(random_doc(rng, vocab, 60, 140)) for _ in resub]
    docs_table(out, "merge_batch", new_ids + resub, b_texts)
    # probe batches: ids from 10^6, the even ones hold a near-dup of a corpus doc
    tok_by_id = {ids[i]: docs[i] for i in range(n_docs)}
    probe_ids, probe_texts, probe_batch, planted_probe = [], [], [], {}
    nid = 1_000_000
    for b in range(z["probe_batches"]):
        hit = b % 2 == 0
        for k in range(z["probe_size"]):
            if hit and k == 0:
                src = int(rng.integers(0, n_docs))
                toks = mutate(rng, tok_by_id[src], vocab, 1)
                planted_probe[str(nid)] = src
            else:
                toks = random_doc(rng, vocab, 60, 140)
            probe_ids.append(nid)
            probe_texts.append(" ".join(toks))
            probe_batch.append(b)
            nid += 1
    write(out, "probe_docs", {
        "doc_id": pa.array(probe_ids, pa.int64()), "text": probe_texts,
        "batch": pa.array(probe_batch, pa.int32())})
    return {"n_docs": n_docs, "planted_pairs": pairs,
            "corpus_bytes": sum(len(t.encode()) for t in texts),
            "planted_clusters": [[ids[m] for m in c] for c in planted],
            "batch_new": len(new_ids), "batch_resub": len(resub),
            "probe_planted": planted_probe,
            "probe_batches": z["probe_batches"],
            "threshold": JACCARD_THRESHOLD}


# ---------------------------------------------------------------- vectors
FIXTURE_WORDS = ("key agg row scan slow fast table value part hash join "
                 "spark stream data filter window merge batch order group "
                 "sort column query big small line customer the a").split()


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def gen_ann(rng, out):
    os.makedirs(out, exist_ok=True)
    z = SIZES["ann"]
    n, dim = z["vectors"], z["dim"]
    centers = unit(rng.standard_normal((z["centers"], dim)))
    lab = rng.integers(0, z["centers"], n)
    vecs = unit(centers[lab] + 0.6 * rng.standard_normal((n, dim))
                / np.sqrt(dim)).astype(np.float32)

    def emb_table(name, ids, v, labels):
        write(out, name, {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([list(map(float, r)) for r in v],
                                  pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())})

    emb_table("embeddings", list(range(n)), vecs, lab)
    texts = [" ".join(FIXTURE_WORDS[int(w)] for w in
                      rng.integers(0, len(FIXTURE_WORDS),
                                   int(rng.integers(20, 60))))
             for _ in range(n)]
    docs_table(out, "documents", list(range(n)), texts)
    # query batch: planted next to corpus vectors; true top-10 by brute force
    src = rng.choice(n, z["queries"], replace=False)
    qv = unit(vecs[src].astype(np.float64)
              + 0.05 * rng.standard_normal((z["queries"], dim))).astype(np.float32)
    qids = list(range(1_000_000, 1_000_000 + z["queries"]))
    emb_table("queries", qids, qv, lab[src])
    # merge batch: new ids plus re-submitted ids with fresh vectors
    resub = sorted(int(i) for i in rng.choice(n, z["batch_resub"],
                                              replace=False))
    new_ids = list(range(n, n + z["batch_new"]))
    bl = rng.integers(0, z["centers"], len(new_ids) + len(resub))
    bv = unit(centers[bl] + 0.6 * rng.standard_normal((len(bl), dim))
              / np.sqrt(dim)).astype(np.float32)
    emb_table("merge_batch", new_ids + resub, bv, bl)
    # the searches run after the pass's merge: ground truth is taken over
    # the merged corpus (re-submitted ids take the batch's vector)
    merged = np.concatenate([vecs, bv[:len(new_ids)]])
    merged[resub] = bv[len(new_ids):]
    sims = qv.astype(np.float64) @ merged.astype(np.float64).T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :10]
    gt = {str(q): [int(x) for x in top[i]] for i, q in enumerate(qids)}
    # probe batches: the even ones hold a near-copy of a corpus vector
    pids, pv, pb, planted = [], [], [], {}
    nid = 2_000_000
    for b in range(z["probe_batches"]):
        hit = b % 2 == 0
        for k in range(z["probe_size"]):
            if hit and k == 0:
                s = int(rng.integers(0, n))
                v = unit(vecs[s] + 0.02 * rng.standard_normal(dim))
                planted[str(nid)] = s
            else:
                v = unit(rng.standard_normal(dim))
            pids.append(nid)
            pv.append(v.astype(np.float32))
            pb.append(b)
            nid += 1
    write(out, "probe_vecs", {
        "vec_id": pa.array(pids, pa.int64()),
        "embedding": pa.array([list(map(float, r)) for r in pv],
                              pa.list_(pa.float32())),
        "batch": pa.array(pb, pa.int32())})
    return {"n_vectors": n, "dim": dim, "gt_top10": gt,
            "batch_new": len(new_ids), "batch_resub": len(resub),
            "probe_planted": planted, "probe_batches": z["probe_batches"],
            "probe_threshold": PROBE_COSINE,
            "input_bytes": n * dim * 4 + sum(len(t) for t in texts)}


GENERATORS = {"shuffle_ledger": gen_shuffle, "dedup_index": gen_dedup}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    # the workload name folds into the stream so two workloads with one
    # seed do not share draws
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    truth = GENERATORS[workload](rng, out)
    if workload == "shuffle_ledger":
        truth["ann"] = gen_ann(np.random.default_rng([seed, len(GENERATORS)]),
                               os.path.join(out, "ann"))
    truth.update(workload=workload, seed=seed)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(out, "params.properties"), "w") as f:
        for k, v in sorted(params(truth).items()):
            f.write(f"{k}={v}\n")
    return truth


def params(truth):
    """The scalars the benchmark JVM needs, as java.util.Properties."""
    w = truth["workload"]
    if w == "shuffle_ledger":
        p = {"probes": ";".join(f"{a}:{b}" for a, b in truth["probes"])}
        p["small_corrupt"] = ",".join(map(str, truth["small"]["corrupt"]))
        for tag in ("small", "large"):
            p[f"{tag}_payload_bytes"] = truth[tag]["payload_bytes"]
        a = truth["ann"]
        p.update(ann_probes=a["probe_batches"],
                 ann_probe_threshold=a["probe_threshold"], ann_nprobe=NPROBE)
        return p
    return {"probe_batches": truth["probe_batches"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
