"""Seeded input generators for the benchmark.

The benchmark owns its inputs: nothing here calls into the program, so no
change to the program can alter a workload. The same seed always gives the
same parquet files (numpy PCG64 streams, fixed write options).

Two inputs:

* a transcripts table `(conv_id, turn_idx, role, text, tool, ts)` in the
  shape the flagship schema (FIXTURES.md section 2) describes, dirty on
  purpose;
* a near-duplicate corpus `(doc_id, text)` with planted clusters.

`PROPERTIES` lists every property a generator varies and why; `run.py`
prints it with each run's diagnostics.
"""

import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator's output for a given seed changes, so the input
# guard never reuses files written by an older generator.
GEN_VERSION = 3

TABLE = dict(
    # conversation length: lognormal turns, median ~6, clipped to [1, 200]
    conv_len_median=6.0, conv_len_sigma=0.8, conv_len_max=200,
    # one hot conversation holds this share of all rows; past 4096 turns
    # its rows also violate the schema's turn_idx maximum
    hot_share=0.015,
    # text length in characters: lognormal, median 160, clipped to
    # [12, 6000]; a rare row is longer than the schema's maxLength
    text_len_median=160.0, text_len_sigma=1.0, text_len_max=6000,
    p_text_over_max=0.00005,
    # planted row defects (probability per row unless noted)
    p_role_bad_enum=0.004, p_role_null=0.002, p_text_null=0.002,
    p_ts_null=0.002, p_turn_negative=0.001, p_duplicate=0.002,
    p_tool_bad_name=0.05,          # per tool row
    p_conv_bad_pattern=0.002,      # per conversation: "C<n>" id
    p_conv_empty_id=0.0002,        # per conversation: "" id
    p_orphan=0.005,                # per conversation: turn 0 dropped
)

CORPUS = dict(
    vocab=20000,
    # document length in tokens: uniform in [30, 150]
    doc_tokens_min=30, doc_tokens_max=150,
    # near-duplicate clusters of 2-8 members cover this share of documents
    cluster_share=0.10, cluster_min=2, cluster_max=8,
    # each planted edge (parent -> edited child) keeps 3-shingle Jaccard at
    # least this high, so 12 bands of 2 minhash rows miss it with
    # probability (1 - j^2)^12 < 2e-10
    edge_jaccard_min=0.92,
)

PROPERTIES = {
    "conversation length": "lognormal, median 6 turns, max 200: the "
        "integrity shuffle and orphan check group by conversation",
    "hot conversation": "one conversation holds 1.5% of rows: skews the "
        "integrity shuffle's reducers and runs past turn_idx maximum",
    "text length": "lognormal 12-6000 chars (median 160) plus rare "
        ">65536-char rows: scan bytes and maxLength both scale with it",
    "violation rate": "~3% of rows break at least one constraint, spread "
        "over every constraint family of the flagship schema, plus "
        "duplicate keys and orphan conversations",
    "files": "16 parquet files: the checkpoint unit is a file",
    "near-dup clusters": "2-8 member stars and chains (sizes cycled, "
        "so the same shapes on every seed) over 10% of documents, every "
        "planted edge Jaccard >= 0.92; each chain's smallest id at its "
        "head, so connected components run the same 8 rounds on every seed",
}

_ROLES = np.array(["system", "user", "assistant", "tool"], dtype=object)
_TOOLS = np.array(["search", "python", "browser", "calculator",
                   "file_reader", "sql_query"], dtype=object)
_TS0_US = 1767225600 * 1_000_000  # 2026-01-01T00:00:00Z


def _words(rng, n, lo, hi):
    """`n` distinct lowercase words of lo..hi letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = letters[rng.integers(0, 26, size=k)].tobytes().decode()
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _text_pool(rng, chars):
    """One long string of space-separated words; texts are slices of it."""
    vocab = _words(rng, 4096, 2, 9)
    idx = rng.integers(0, len(vocab), size=chars // 5)
    pool = " ".join(vocab[i] for i in idx)
    return pool[:chars]


def _conv_lengths(rng, rows):
    p = TABLE
    lens = []
    total = 0
    while total < rows:
        chunk = np.clip(np.rint(rng.lognormal(math.log(p["conv_len_median"]),
                                              p["conv_len_sigma"], 4096)),
                        1, p["conv_len_max"]).astype(np.int64)
        lens.append(chunk)
        total += int(chunk.sum())
    lens = np.concatenate(lens)
    lens = lens[: int(np.searchsorted(np.cumsum(lens), rows)) + 1]
    lens[int(rng.integers(0, len(lens)))] = max(1, int(rows * p["hot_share"]))
    return lens


def _table_rows(rng, rows):
    """Column arrays for ~`rows` turns of conversations, one of them hot,
    defects planted."""
    p = TABLE
    lens = _conv_lengths(rng, rows)
    n_conv = len(lens)
    conv = np.repeat(np.arange(n_conv, dtype=np.int64), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn = (np.arange(len(conv), dtype=np.int64) - starts)

    # per conversation: id form, orphaning
    kind = rng.random(n_conv)
    conv_ids = np.array([f"c{i}" for i in range(n_conv)], dtype=object)
    bad = kind < p["p_conv_bad_pattern"]
    conv_ids[bad] = np.array([f"C{i}" for i in np.nonzero(bad)[0]], dtype=object)
    conv_ids[(kind >= p["p_conv_bad_pattern"]) &
             (kind < p["p_conv_bad_pattern"] + p["p_conv_empty_id"])] = ""
    orphan = rng.random(n_conv) < p["p_orphan"]
    keep = ~(orphan[conv] & (turn == 0))

    n = len(conv)
    role = rng.choice(np.arange(1, 4), size=n, p=[0.42, 0.42, 0.16])
    role[turn == 0] = 0
    is_tool = role == 3
    tool = np.full(n, None, dtype=object)
    tool[is_tool] = _TOOLS[rng.integers(0, len(_TOOLS), size=int(is_tool.sum()))]
    tool[is_tool & (rng.random(n) < p["p_tool_bad_name"])] = "Web-Search"
    role_s = _ROLES[role].astype(object)
    role_s[rng.random(n) < p["p_role_bad_enum"]] = "operator"
    role_s[rng.random(n) < p["p_role_null"]] = None

    tlen = np.clip(np.rint(rng.lognormal(math.log(p["text_len_median"]),
                                         p["text_len_sigma"], n)),
                   12, p["text_len_max"]).astype(np.int64)
    over = rng.random(n) < p["p_text_over_max"]
    tlen[over] = rng.integers(65537, 70001, size=int(over.sum()))
    text_null = rng.random(n) < p["p_text_null"]
    toff = rng.integers(0, 1 << 30, size=n)

    turn_idx = turn.astype(np.int32)
    turn_idx[rng.random(n) < p["p_turn_negative"]] = -1
    ts = _TS0_US + conv * 3_600_000_000 + turn * 30_000_000
    ts_null = rng.random(n) < p["p_ts_null"]

    # duplicate keys: a planted row is written twice
    reps = np.where(rng.random(n) < p["p_duplicate"], 2, 1) * keep
    sel = np.repeat(np.arange(n), reps)
    return dict(conv_id=conv_ids[conv[sel]], turn_idx=turn_idx[sel],
                role=role_s[sel], tool=tool[sel], ts=ts[sel],
                ts_null=ts_null[sel], tlen=tlen[sel], toff=toff[sel],
                text_null=text_null[sel])


def _write_table(cols, pool, out_dir, names):
    """Write `cols` split row-contiguously into one file per name."""
    n = len(cols["conv_id"])
    bounds = np.linspace(0, n, len(names) + 1).astype(np.int64)
    width = len(pool) - 70001
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()),
                        ("ts", pa.timestamp("us", tz="UTC"))])
    for name, lo, hi in zip(names, bounds[:-1], bounds[1:]):
        sl = slice(int(lo), int(hi))
        texts = [None if null else pool[o % width: o % width + ln]
                 for o, ln, null in zip(cols["toff"][sl].tolist(), cols["tlen"][sl].tolist(),
                                        cols["text_null"][sl].tolist())]
        ts = pa.array(cols["ts"][sl], pa.int64(), mask=cols["ts_null"][sl]) \
            .cast(pa.timestamp("us", tz="UTC"))
        t = pa.table([pa.array(cols["conv_id"][sl], pa.string()),
                      pa.array(cols["turn_idx"][sl], pa.int32()),
                      pa.array(cols["role"][sl], pa.string()),
                      pa.array(texts, pa.string()),
                      pa.array(cols["tool"][sl], pa.string()),
                      ts], schema=schema)
        pq.write_table(t, f"{out_dir}/{name}", compression="snappy")


def transcripts(seed, rows, files, out_dir):
    """Write the table (`files` files, ~`rows` turns, one hot conversation)
    to `out_dir`."""
    rng = np.random.default_rng([seed, 1])
    pool = _text_pool(rng, 8 << 20)
    cols = _table_rows(np.random.default_rng([seed, 2]), rows)
    _write_table(cols, pool, out_dir, [f"part-{i:03d}.parquet" for i in range(files)])


def _shingles(tokens, n=3):
    """Distinct word n-grams, the program's definition: a document with
    fewer than n tokens is one shingle of all its tokens."""
    if len(tokens) < n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _edit(rng, tokens, vocab):
    """A near copy: one or two tokens substituted."""
    out = list(tokens)
    for _ in range(int(rng.integers(1, 3))):
        out[int(rng.integers(0, len(out)))] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def corpus(seed, docs, files, out_dir):
    """Write the near-dup corpus; return the planted survivor ids (min
    doc_id per cluster plus every unclustered document)."""
    p = CORPUS
    rng = np.random.default_rng([seed, 4])
    vocab = _words(rng, p["vocab"], 3, 10)

    def fresh():
        k = int(rng.integers(p["doc_tokens_min"], p["doc_tokens_max"] + 1))
        return [vocab[i] for i in rng.integers(0, len(vocab), size=k)]

    # cluster shapes are the same on every seed: sizes cycle through
    # cluster_min..cluster_max, alternating chain and star
    texts, groups, chains = [], [], []
    clustered_target = int(docs * p["cluster_share"])
    span = p["cluster_max"] - p["cluster_min"] + 1
    while sum(len(g) for g in groups) < clustered_target:
        size = p["cluster_min"] + len(groups) % span
        chain = len(groups) % 2 == 0
        members = [fresh()]
        while len(members) < size:
            parent = members[-1] if chain else members[0]
            child = _edit(rng, parent, vocab)
            if jaccard(parent, child) >= p["edge_jaccard_min"]:
                members.append(child)
        groups.append(list(range(len(texts), len(texts) + size)))
        chains.append(chain)
        texts.extend(members)
    while len(texts) < docs:
        texts.append(fresh())

    ids = rng.permutation(len(texts)).astype(np.int64)
    # a chain's smallest id sits at its head, so propagating the minimum
    # label takes the chain's full length: the number of component rounds
    # is the same on every seed
    for g, chain in zip(groups, chains):
        if chain:
            ids[g] = np.sort(ids[g])
    clustered = set()
    survivors = set()
    for g in groups:
        clustered.update(g)
        survivors.add(int(ids[g].min()))
    survivors.update(int(ids[i]) for i in range(len(texts)) if i not in clustered)

    order = rng.permutation(len(texts))
    bounds = np.linspace(0, len(texts), files + 1).astype(np.int64)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        rows = order[lo:hi]
        t = pa.table({"doc_id": pa.array(ids[rows], pa.int64()),
                      "text": pa.array([" ".join(texts[i]) for i in rows], pa.string())})
        pq.write_table(t, f"{out_dir}/part-{f:03d}.parquet", compression="snappy")
    return sorted(survivors), len(groups)
