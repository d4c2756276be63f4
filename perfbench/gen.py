"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, seconds, sizes): the same
seed writes byte-identical files. Inputs are plain text (JSON lines), so the program
under test sees only files; the expected outcomes the output checks need
(planted counts, planted pairs, victims) go to `expect.json`, and the
sizes and knobs the Scala harness needs go to `params.properties`.
"""

import bisect
import json
import os
import random

# Sizes and input properties of each workload. BENCHMARK.json repeats
# the headline figures in each workload's `why`.
INGEST = {
    "drain_parts": 3,            # backlogs drained one after the other
    "drain_files": 16,           # files per backlog
    "drain_lines_per_file": 8000,
    "paced_lines_per_file": 100, # open-loop phase: one file per interval
    # 12.5 files/s = 1,250 lines/s offered: 100 files in 8 s. Each
    # micro-batch has a fixed cost (~0.3 s on 4 vCPUs) plus ~25 ms a file,
    # so at this rate a batch spends about a third of its time on the
    # files it gathered, and a slower batch gathers few more files for
    # the next one
    "paced_interval_s": 0.08,
    # untimed files offered first on the same schedule: the paced query's
    # per-batch path (listing, planning, log commits) is still compiling
    # during its first few seconds
    "paced_warm_files": 40,
    "malformed_share": 0.02,
    "oversize_per_file": 1,      # lines over the 64 KiB record cap, per drain file
    "paced_oversize_every": 10,  # one over-cap line in every 10th paced file
    "max_record_bytes": 65536,
    "warm_parts": 3,             # set-up drains, shaped like the timed ones
    "warm_lines_per_file": 2000,
}

DEDUP = {
    "docs": 4000,                # distinct originals incl. near-dup members
    "vocab": 20000,
    "zipf_s": 1.1,
    "doc_tokens": (40, 120),
    "exact_dup_share": 0.10,     # extra exact copies, as a share of docs
    "cluster_share": 0.20,       # share of docs inside planted clusters
    "cluster_size_alpha": 1.6,   # Pareto tail of cluster sizes
    "cluster_size_max": 40,
    "edit_share": 0.04,          # tokens replaced per near-dup member
    "max_bucket": 48,            # Dedup's maxBucket cap for the run
    "cap_cluster_size": 80,      # one cluster above the cap
    "threshold": 0.8,
    "recall_floor": 0.9,
}

INDEX = {
    "docs": 1500,
    "vocab": 8000,
    "zipf_s": 1.05,
    "doc_tokens": (30, 80),
    "dim": 16,
    "append_batches": 1,
    "append_docs": 8,
    "purges": 2,                 # alternating physical, logical
    "victims_per_purge": 3,
    "n_buckets": 4,
    "nlist": 4,
    "threshold": 0.8,
}


def _zipf_sampler(rng, vocab, s):
    cum = []
    total = 0.0
    for rank in range(1, vocab + 1):
        total += 1.0 / rank ** s
        cum.append(total)

    def draw():
        return bisect.bisect_left(cum, rng.random() * total)
    return draw


def _tokens(rng, draw, lo, hi):
    return ["w%d" % draw() for _ in range(rng.randint(lo, hi))]


def jaccard(a, b):
    """Exact Jaccard of two token lists as sets (the verifier's measure)."""
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


def _near_dup(rng, draw, base, edit_share, threshold):
    """A copy of `base` with a share of its tokens replaced, redrawn until
    its Jaccard with the base clears the threshold by a margin."""
    while True:
        toks = list(base)
        for _ in range(max(1, round(edit_share * len(toks)))):
            toks[rng.randrange(len(toks))] = "w%d" % draw()
        if jaccard(toks, base) >= threshold + 0.05:
            return toks


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def _props(path, d):
    with open(path, "w", encoding="utf-8") as f:
        for k in sorted(d):
            f.write("%s=%s\n" % (k, d[k]))


def _json(path, d):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(d, f, sort_keys=True)


# ---------------------------------------------------------------- s4_ingest

def _log_file(rng, seq0, n, oversize, cfg):
    """n log lines: valid records with consecutive `seq` from seq0, a
    planted share of malformed lines and `oversize` over-cap records.
    Returns (lines, valid_seqs, n_malformed, n_oversize)."""
    lines, seqs = [], []
    n_mal = 0
    levels = ("INFO", "WARN", "ERROR", "DEBUG")
    mal_cut = int(cfg["malformed_share"] * (1 << 16))
    seq = seq0
    over_at = set(rng.sample(range(n), oversize))
    for i in range(n):
        if i in over_at:
            pad = "x" * (cfg["max_record_bytes"] + rng.randint(16, 4096))
            lines.append('{"seq":"o%d","msg":"%s"}' % (seq, pad))
            continue
        # one draw per line: bits 0-15 pick malformed, the rest the fields
        x = rng.getrandbits(64)
        host = (x >> 16) & 63
        if x & 0xFFFF < mal_cut:
            n_mal += 1
            if x >> 63:
                lines.append('{"seq":"m%d","host":"h%d"' % (seq, host))
            else:
                lines.append("seq=m%d host=h%d level=INFO" % (seq, host))
            continue
        lines.append('{"seq":"%d","host":"h%d","level":"%s","msg":"req %08x took %dms"}' % (
            seq, host, levels[(x >> 22) & 3], (x >> 24) & 0xFFFFFFFF, 1 + (x >> 56) * 19))
        seqs.append(seq)
        seq += 1
    return lines, seqs, n_mal, oversize


def gen_ingest(seed, seconds, out):
    cfg = INGEST
    paced_files = cfg["paced_warm_files"] + max(1, round(seconds / cfg["paced_interval_s"]))
    rng = random.Random("s4_ingest:%d" % seed)
    seq = 0
    expect = {"drain": [], "paced": None}

    def batch(dirname, n_files, n_lines, oversize_every=1):
        nonlocal seq
        d = os.path.join(out, dirname)
        os.makedirs(d)
        exp = {"lines": 0, "valid": 0, "malformed": 0, "oversize": 0,
               "seq_min": seq, "seq_sum": 0, "files": n_files,
               "bytes": 0}
        for f in range(n_files):
            oversize = cfg["oversize_per_file"] if f % oversize_every == 0 else 0
            lines, seqs, n_mal, n_over = _log_file(rng, seq, n_lines, oversize, cfg)
            seq += len(seqs)
            path = os.path.join(d, "part-%05d.json" % f)
            _write_lines(path, lines)
            exp["lines"] += len(lines)
            exp["valid"] += len(seqs)
            exp["malformed"] += n_mal
            exp["oversize"] += n_over
            exp["seq_sum"] += sum(seqs)
            exp["bytes"] += os.path.getsize(path)
        exp["seq_max"] = seq - 1
        return exp

    # one untimed backlog per set-up repetition: as many files as a timed
    # drain, so the set-up runs (and JIT-compiles) the same task shape
    expect["warm"] = [batch("warm%d" % r, cfg["drain_files"], cfg["warm_lines_per_file"])
                      for r in range(cfg["warm_parts"])]
    for p in range(cfg["drain_parts"]):
        expect["drain"].append(
            batch("drain%d" % p, cfg["drain_files"], cfg["drain_lines_per_file"]))
    expect["paced"] = batch("paced", paced_files, cfg["paced_lines_per_file"],
                            cfg["paced_oversize_every"])
    _json(os.path.join(out, "expect.json"), expect)
    _props(os.path.join(out, "params.properties"), {
        "drain_parts": cfg["drain_parts"],
        "paced_interval_s": cfg["paced_interval_s"],
        "paced_warm_files": cfg["paced_warm_files"],
        "max_record_bytes": cfg["max_record_bytes"],
        "warm_parts": cfg["warm_parts"],
    })
    return expect


# ------------------------------------------------------------- corpus_dedup

def _cluster_sizes(budget, alpha, cap):
    """Heavy-tailed cluster sizes >= 2 summing to about budget: Pareto
    quantiles at evenly spaced levels, so every seed gets the same size
    distribution (the seed still picks every document's content)."""
    sizes = []
    i = 0
    while budget >= 2:
        q = (i * 0.618034) % 1.0  # low-discrepancy levels in [0, 1)
        s = min(cap, budget, max(2, int((1.0 - q) ** (-1.0 / alpha) + 1)))
        sizes.append(s)
        budget -= s
        i += 1
    return sizes


def gen_dedup(seed, seconds, out):
    cfg = DEDUP
    rng = random.Random("corpus_dedup:%d" % seed)
    draw = _zipf_sampler(rng, cfg["vocab"], cfg["zipf_s"])
    lo, hi = cfg["doc_tokens"]
    n = cfg["docs"]
    docs = []          # token lists of the originals, id = index + 1
    planted = []       # (base id, member id) pairs with J >= threshold
    cap_pairs = []

    def add_cluster(size, edit_share, sink):
        base = _tokens(rng, draw, lo, hi)
        docs.append(base)
        bid = len(docs)
        for _ in range(size - 1):
            docs.append(_near_dup(rng, draw, base, edit_share, cfg["threshold"]))
            sink.append((bid, len(docs)))

    # the over-cap cluster: members one token away from the base, so most
    # band buckets of the cluster exceed maxBucket
    add_cluster(cfg["cap_cluster_size"], 0.0, cap_pairs)
    sizes = _cluster_sizes(int(cfg["cluster_share"] * n),
                           cfg["cluster_size_alpha"], cfg["cluster_size_max"])
    for s in sizes:
        add_cluster(s, cfg["edit_share"], planted)
    while len(docs) < n:
        docs.append(_tokens(rng, draw, lo, hi))
    # exact copies come after every original, so keep-first keeps the
    # original and every planted pair survives the exact pass
    n_copies = int(cfg["exact_dup_share"] * n)
    copies = [docs[rng.randrange(len(docs))] for _ in range(n_copies)]
    texts = [" ".join(t) for t in docs + copies]
    distinct = len(set(texts))
    _write_lines(os.path.join(out, "corpus.json"),
                 (json.dumps({"doc_id": i + 1, "text": t}) for i, t in enumerate(texts)))
    expect = {
        "docs": len(texts),
        "distinct_texts": distinct,
        "exact_removed": len(texts) - distinct,
        "planted_pairs": planted,
        "cap_pairs": cap_pairs,
        "cluster_sizes": sorted(sizes, reverse=True)[:5],
        "clusters": len(sizes),
    }
    _json(os.path.join(out, "expect.json"), expect)
    _props(os.path.join(out, "params.properties"), {
        "docs": len(texts),
        "max_bucket": cfg["max_bucket"],
        "threshold": cfg["threshold"],
    })
    return expect


# ----------------------------------------------------- index_serve_takedown

def gen_index(seed, seconds, out):
    cfg = INDEX
    rng = random.Random("index_serve_takedown:%d" % seed)
    draw = _zipf_sampler(rng, cfg["vocab"], cfg["zipf_s"])
    lo, hi = cfg["doc_tokens"]

    def doc(i):
        emb = [round(rng.uniform(-1.0, 1.0), 4) for _ in range(cfg["dim"])]
        return {"doc_id": i, "text": " ".join(_tokens(rng, draw, lo, hi)),
                "embedding": emb}

    n = cfg["docs"]
    _write_lines(os.path.join(out, "corpus.json"),
                 (json.dumps(doc(i)) for i in range(1, n + 1)))
    next_id = n + 1
    for b in range(cfg["append_batches"]):
        rows = [doc(next_id + j) for j in range(cfg["append_docs"])]
        next_id += len(rows)
        _write_lines(os.path.join(out, "append%d.json" % b),
                     (json.dumps(r) for r in rows))
    pool = rng.sample(range(1, n + 1), cfg["purges"] * cfg["victims_per_purge"])
    victims = [sorted(pool[i * cfg["victims_per_purge"]:(i + 1) * cfg["victims_per_purge"]])
               for i in range(cfg["purges"])]
    # the reader queries the victims' own texts and vectors (so a missed
    # takedown would surface at rank 1) plus as many ordinary docs
    others = [i for i in rng.sample(range(1, n + 1), 12) if i not in pool][:len(pool)]
    queries = sorted(pool) + others
    expect = {"docs": n, "victims": victims, "queries": queries,
              "appended": cfg["append_batches"] * cfg["append_docs"]}
    _json(os.path.join(out, "expect.json"), expect)
    _props(os.path.join(out, "params.properties"), {
        "docs": n,
        "append_batches": cfg["append_batches"],
        "purges": cfg["purges"],
        "victims": ";".join(",".join(map(str, v)) for v in victims),
        "queries": ",".join(map(str, queries)),
        "n_buckets": cfg["n_buckets"],
        "nlist": cfg["nlist"],
        "threshold": cfg["threshold"],
    })
    return expect


GENERATORS = {
    "s4_ingest": gen_ingest,
    "corpus_dedup": gen_dedup,
    "index_serve_takedown": gen_index,
}


def generate(workload, seed, seconds, out):
    """Write the inputs of `workload` for `seed` under the empty dir `out`;
    the open-loop phase of s4_ingest offers files for `seconds`."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, seconds, out)
