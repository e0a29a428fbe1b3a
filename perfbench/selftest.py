#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks (no JVM needed):

    python3 perfbench/selftest.py

For each workload it generates the inputs of a small seed, builds the
outputs a correct program would produce from the generator's ground
truth, confirms that check.py accepts them, then feeds each check one
perturbed output and fails unless that check rejects it. Exit code 0
when every perturbation is caught.
"""
import os
import sys
import tempfile

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

SEED = 7


def shuffle_outputs(truth):
    d = {}
    for tag in ("small", "large"):
        rows = []
        for k, g in truth[tag]["groups"].items():
            p, m = map(int, k.split(","))
            rows.append((p, m, g["physical"], g["raw_crc_sum"], g["physical_bytes"]))
        d[f"scan_payload_{tag}"] = pd.DataFrame(rows, columns=[
            "partition_id", "map_id", "n_blocks", "crc_sum", "n_bytes"])
    small = truth["small"]
    bad = "{},{}".format(*small["corrupt"])
    rows = []
    for k, g in small["groups"].items():
        p, m = map(int, k.split(","))
        stored = g["ledger"] + (small["corrupt_delta"] if k == bad else 0)
        rows.append((p, m, g["physical"], g["physical_bytes"], 1, stored, g["attempt"]))
    d["scan_lineage"] = pd.DataFrame(rows, columns=[
        "partition_id", "map_id", "n_blocks", "n_bytes", "n_ledgers", "stored",
        "max_attempt"])
    d["final_files"] = pd.DataFrame(
        [(tag, check.INDEX_RECORD * (truth[tag]["rows"] + len(truth[tag]["groups"]))
          + truth[tag]["payload_bytes"]) for tag in ("small", "large")],
        columns=["tree", "bytes"])
    probes = []
    for p, m in truth["probes"]:
        g = small["groups"].get(f"{p},{m}")
        probes.append((p, m, g["physical"] if g else 0))
    d["probes"] = pd.DataFrame(probes, columns=["partition_id", "map_id", "n_blocks"])
    d["n_probes"] = len(probes)
    d["q/q_part_rank"] = pd.DataFrame({"p_partkey": [1, 2, 3, 4],
                                       "rank": [0.1, 0.2, 0.3, 0.4]})
    return d


def dedup_outputs(inp, truth):
    th = truth["threshold"]
    pairs = sorted((a, b, j) for a, b, j in truth["planted_pairs"] if j >= th)
    frame = pd.DataFrame(pairs, columns=["doc_a", "doc_b", "jaccard"])
    comp = check.components([(a, b) for a, b, _ in pairs])
    d = {"q/q_text_minhash": frame, "q/q_text_simhash": frame.copy(),
         "q/q_dedup_cluster": pd.DataFrame(
             [(r, len(m), sum(x - r for x in m)) for r, m in comp.items()],
             columns=["rep_id", "cluster_size", "id_span"]),
         "merge": pd.DataFrame([(truth["n_docs"], truth["n_docs"] + truth["batch_new"],
                                 truth["n_docs"] + truth["batch_new"], 0)],
                               columns=["docs_before", "docs_after",
                                        "merge_doc_rows", "merge_band_rows"])}
    docs = pd.read_parquet(os.path.join(inp, "documents.parquet"))
    sh = dict(zip(docs.doc_id, (check.shingles(t) for t in docs.text)))
    probe = pd.read_parquet(os.path.join(inp, "probe_docs.parquet"))
    psh = dict(zip(probe.doc_id, (check.shingles(t) for t in probe.text)))
    batch = dict(zip(probe.doc_id, probe.batch))
    rows = [(batch[int(k)], int(k), src, check.jaccard(psh[int(k)], sh[src]))
            for k, src in truth["probe_planted"].items()]
    d["probes"] = pd.DataFrame(rows, columns=["batch", "doc_id", "match_id", "jaccard"])
    d["n_probes"] = truth["probe_batches"]
    return d


def ann_outputs(truth):
    d = {}
    for name in ("search_ivf", "search_lsh", "search_ivfpq"):
        d[name] = pd.DataFrame(
            [(int(q), n, rk + 1) for q, ns in truth["gt_top10"].items()
             for rk, n in enumerate(ns)],
            columns=["query_id", "neighbor_id", "rk"])
    d["merge"] = pd.DataFrame([(truth["n_vectors"], truth["n_vectors"] + truth["batch_new"])],
                              columns=["n_before", "n_after"])
    d["probes"] = pd.DataFrame(
        [(0, int(k), src) for k, src in truth["probe_planted"].items()],
        columns=["batch", "vec_id", "match_id"])
    d["n_probes"] = truth["probe_batches"]
    return d


def bump(frame, col, row=0, by=1):
    f = frame.copy()
    f.loc[f.index[row], col] = f.loc[f.index[row], col] + by
    return f


def perturbations(workload, d, truth):
    """(name, perturbed outputs) pairs; each must be rejected."""
    if workload == "shuffle_ledger":
        small = truth["small"]
        bad = tuple(small["corrupt"])
        lin = d["scan_lineage"]
        clean = int(np.flatnonzero([(p, m) != bad for p, m in
                                    zip(lin.partition_id, lin.map_id)])[0])
        badrow = int(np.flatnonzero([(p, m) == bad for p, m in
                                     zip(lin.partition_id, lin.map_id)])[0])
        yield "one clean block dropped", dict(d, scan_payload_small=bump(
            d["scan_payload_small"], "n_blocks", by=-1))
        yield "one payload byte flipped", dict(d, scan_payload_large=bump(
            d["scan_payload_large"], "crc_sum", by=7))
        yield "a clean ledger flagged", dict(d, scan_lineage=bump(lin, "stored", clean))
        yield "the planted ledger missed", dict(d, scan_lineage=bump(
            lin, "stored", badrow, by=-small["corrupt_delta"]))
        yield "a superseded attempt kept", dict(d, scan_lineage=bump(
            lin, "max_attempt", int(np.flatnonzero(
                lin.map_id == small["retried_map"])[0]), by=-1))
        yield "on-disk bytes off by one", dict(d, final_files=bump(
            d["final_files"], "bytes"))
        yield "a probe short of one block", dict(d, probes=bump(d["probes"], "n_blocks"))
        yield "part ranks not summing to 1", dict(
            d, **{"q/q_part_rank": bump(d["q/q_part_rank"], "rank", by=1e-6)})
    elif workload == "dedup_index":
        th = truth["threshold"]
        mh = d["q/q_text_minhash"]
        low = [p for p in truth["planted_pairs"] if p[2] < th][0]
        yield "a pair below the threshold reported", dict(d, **{
            "q/q_text_minhash": pd.concat(
                [mh, pd.DataFrame([low], columns=mh.columns)], ignore_index=True)})
        yield "a pair's Jaccard pushed below the threshold", dict(d, **{
            "q/q_text_simhash": bump(d["q/q_text_simhash"], "jaccard", by=-0.25)})
        yield "a cluster split", dict(d, **{
            "q/q_dedup_cluster": d["q/q_dedup_cluster"].iloc[1:]})
        yield "a merged id lost", dict(d, merge=bump(d["merge"], "docs_after", by=-1))
        pr = d["probes"]
        other = int(pr.match_id.iloc[1])
        yield "a probe matched to the wrong doc", dict(d, probes=bump(
            pr, "match_id", by=other - int(pr.match_id.iloc[0])))
        yield "a planted probe hit missed", dict(d, probes=pr.iloc[1:])
    else:
        s = d["search_ivf"]
        dup = s.copy()
        dup.loc[dup.index[1], "neighbor_id"] = dup.loc[dup.index[0], "neighbor_id"]
        yield "a neighbour repeated", dict(d, search_ivf=dup)
        yield "a neighbour outside the corpus", dict(d, search_lsh=bump(
            d["search_lsh"], "neighbor_id", by=10 ** 7))
        yield "a merged row lost", dict(d, merge=bump(d["merge"], "n_after", by=-1))
        pr = d["probes"]
        yield "a probe neighbour swapped", dict(d, probes=bump(
            pr, "match_id", by=int(pr.match_id.iloc[1]) - int(pr.match_id.iloc[0])))


def oracle_selftest(inp):
    """The DuckDB comparator rejects a query answer one count off."""
    con = duckdb.connect()
    want = con.sql(f"SELECT l_returnflag, count(*) AS n FROM "
                   f"'{inp}/lineitem.parquet' GROUP BY 1").df()
    assert not check.frame_diff("q", want.copy(), want), "oracle: clean answer rejected"
    return bool(check.frame_diff("q", bump(want, "n"), want))


def main():
    failures = []
    with tempfile.TemporaryDirectory() as tmp:
        cases = []
        for w in ("shuffle_ledger", "dedup_index"):
            inp = os.path.join(tmp, w)
            cases.append((w, inp, gen.generate(w, SEED, inp)))
        # the retrieval segment of a traced shuffle_ledger run
        cases.append(("ann", os.path.join(cases[0][1], "ann"), cases[0][2]["ann"]))
        for w, inp, truth in cases:
            d = {"shuffle_ledger": lambda: shuffle_outputs(truth),
                 "dedup_index": lambda: dedup_outputs(inp, truth),
                 "ann": lambda: ann_outputs(truth)}[w]()
            problems, _ = check.check_outputs(w, inp, d, truth)
            if problems:
                failures.append(f"{w}: correct outputs rejected: {problems[:3]}")
            for name, bad in perturbations(w, d, truth):
                caught = bool(check.check_outputs(w, inp, bad, truth)[0])
                print(f"{'caught' if caught else 'MISSED'}  {w}: {name}")
                if not caught:
                    failures.append(f"{w}: {name}")
            if w == "shuffle_ledger":
                caught = oracle_selftest(inp)
                print(f"{'caught' if caught else 'MISSED'}  oracle: answer one count off")
                if not caught:
                    failures.append("oracle comparator")
    for f in failures:
        print(f"selftest failure: {f}", file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
