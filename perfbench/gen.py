"""Seeded input generator for the benchmark workloads.

Every value is a pure function of (seed, tag, id, position) through a
64-bit mixing hash — the same scheme ``scripts/gen_scale_tier.py``
uses (xxhash64 over ``(seed, cols...)``), salted here with the
workload seed and evaluated in NumPy so that generation needs no JVM.
The same seed gives byte-identical parquet; another seed gives other
inputs. The program under test only ever sees the parquet files.

Tables keep the fixture schemas (``events``: event_id, ts, user_id,
event_type, value, props; ``documents``: doc_id, text, lang, source,
n_chars), with ``user_id`` = activity, so the registered queries read
them unchanged.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


#: Activity lengths in 1 Hz ticks, log-uniform between about 20 and
#: 80 minutes: every reference rolling window (up to 1200 ticks) fills,
#: and the length skew makes per-activity partitions uneven. Lengths
#: are stratified: activity ``a`` draws from stratum ``a % STRATA`` of
#: the log range, so any STRATA consecutive activities (one landed
#: batch) span the whole range and batch totals vary little by seed.
TICKS_MIN, TICKS_MAX = 1250, 4800
STRATA = 5
#: Gap length (ticks to the next sample) = 1 + event_id % 3, which is
#: how ``queries.streams`` derives ``time_key``; these weights make most
#: samples consecutive with a tail of 1- and 2-tick sensor dropouts.
GAP_WEIGHTS = (0.78, 0.13, 0.09)
EPOCH0 = 1_704_067_200  # 2024-01-01 UTC

#: Per-language unigram counts of the sf0.1 ``documents`` fixture
#: (30 words near-uniform; "dup" rare) and its language mix.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
RARE_WORD, RARE_SHARE = "dup", 0.009
LANG_MIX = (("en", 0.412), ("zh", 0.151), ("es", 0.149), ("fr", 0.148), ("de", 0.140))
TOKENS_MIN, TOKENS_MAX = 10, 100
#: Near-duplicate planting: this share of documents copies an earlier
#: document and substitutes a few tokens (word-3-gram Jaccard well
#: above the 0.5 MinHash threshold).
DUP_SHARE = 0.12
DUP_EDIT_SHARE = 0.04


def _tag_key(seed: int, tag: str) -> np.uint64:
    d = hashlib.blake2b(f"{seed}:{tag}".encode(), digest_size=8).digest()
    return np.uint64(int.from_bytes(d, "little"))


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 arithmetic wraps)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def h(seed: int, tag: str, *cols) -> np.ndarray:
    """Deterministic uint64 hash of (seed, tag, cols...) per element."""
    with np.errstate(over="ignore"):
        x = np.full(np.broadcast(*cols).shape if cols else (), _tag_key(seed, tag))
        for c in cols:
            x = _mix(x ^ (np.asarray(c, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)))
        return _mix(x)


def unit(seed: int, tag: str, *cols) -> np.ndarray:
    """Uniform [0, 1) doubles from the hash."""
    return (h(seed, tag, *cols) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# ---------------------------------------------------------------------------
# Activities (events table)
# ---------------------------------------------------------------------------


def activity_events(seed: int, ids: np.ndarray, start_epochs: np.ndarray) -> pa.Table:
    """Events for the given activity ids: one sample per event, gaps of
    1-3 ticks, heart-rate-like ``value``. ``event_id`` is globally
    unique per (activity, sample) and encodes the gap (event_id % 3)."""
    ids = np.asarray(ids, dtype=np.int64)
    q = (ids % STRATA + unit(seed, "len", ids)) / STRATA
    ticks = np.floor(
        np.exp(np.log(TICKS_MIN) + q * (np.log(TICKS_MAX) - np.log(TICKS_MIN)))
    ).astype(np.int64)
    cum = np.cumsum(GAP_WEIGHTS)
    cols: dict[str, list] = {k: [] for k in ("event_id", "ts", "user_id", "value", "etype", "key")}
    for a, n_ticks, t0 in zip(ids, ticks, start_epochs):
        # enough candidate samples, then cut where time_key passes n_ticks
        k = np.arange(n_ticks, dtype=np.int64)
        gap = 1 + np.searchsorted(cum, unit(seed, "gap", a, k), side="right")
        gap = np.minimum(gap, 3)
        tkey = np.cumsum(gap)
        keep = tkey <= n_ticks
        gap, tkey, k = gap[keep], tkey[keep], k[keep]
        eid = (a * 100_000 + k) * 3 + (gap - 1)
        period = 300 + unit(seed, "period", a) * 1500
        base = 110 + 40 * unit(seed, "base", a)
        noise = unit(seed, "noise", a, k) * 8 - 4
        hr = np.round(base + 35 * np.sin(2 * np.pi * tkey / period) + noise, 1)
        cols["event_id"].append(eid)
        cols["ts"].append((t0 + tkey) * 1_000_000)
        cols["user_id"].append(np.full(len(k), a, dtype=np.int64))
        cols["value"].append(hr)
        cols["etype"].append((h(seed, "ety", a, k) % np.uint64(5)).astype(np.int64))
        cols["key"].append((h(seed, "prp", a, k) % np.uint64(100)).astype(np.int64))
    cat = {k: np.concatenate(v) for k, v in cols.items()}
    etypes = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
    props = np.char.add(np.char.add('{"k": ', cat["key"].astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(cat["event_id"], pa.int64()),
            "ts": pa.array(cat["ts"], pa.timestamp("us")),
            "user_id": pa.array(cat["user_id"], pa.int64()),
            "event_type": pa.array(etypes[cat["etype"]], pa.string()),
            "value": pa.array(cat["value"], pa.float64()),
            "props": pa.array(props.astype(object), pa.string()),
        }
    )


def activity_starts(seed: int, ids: np.ndarray) -> np.ndarray:
    """Start epochs strictly increasing in activity id (one activity
    per ~6 h plus jitter), so later ids are always newer."""
    ids = np.asarray(ids, dtype=np.int64)
    return EPOCH0 + ids * 21_600 + (h(seed, "t0", ids) % np.uint64(3_600)).astype(np.int64)


def events_stats(t: pa.Table) -> dict:
    """Per-input statistics: activity count, samples per activity,
    and the share of dense ticks that are gap-filled."""
    uid = t.column("user_id").to_numpy()
    eid = t.column("event_id").to_numpy()
    _, counts = np.unique(uid, return_counts=True)
    ticks = int((1 + eid % 3).sum())
    return {
        "activities": int(len(counts)),
        "samples": int(len(uid)),
        "samples_per_activity_p50": float(np.median(counts)),
        "samples_per_activity_max": int(counts.max()),
        "gap_share_of_dense_ticks": round(1 - len(uid) / ticks, 6),
    }


# ---------------------------------------------------------------------------
# Documents
# ---------------------------------------------------------------------------


def documents(seed: int, n_docs: int) -> tuple[pa.Table, float]:
    """Word-salad documents over the fixture vocabulary, with planted
    near-duplicate clusters. Returns the table and the share of
    documents that belong to a planted near-duplicate cluster."""
    ids = np.arange(n_docs, dtype=np.int64)
    lang_cum = np.cumsum([p for _, p in LANG_MIX])
    lang_cum /= lang_cum[-1]
    lang_idx = np.searchsorted(lang_cum, unit(seed, "lang", ids), side="right")
    n_tok = TOKENS_MIN + (h(seed, "ntok", ids) % np.uint64(TOKENS_MAX - TOKENS_MIN + 1)).astype(np.int64)
    is_dup = (unit(seed, "dup", ids) < DUP_SHARE) & (ids > 0)
    src = np.where(is_dup, (h(seed, "dupsrc", ids) % np.maximum(ids, 1).astype(np.uint64)).astype(np.int64), ids)
    # a duplicate of a duplicate resolves to the original document
    for i in np.flatnonzero(is_dup):
        src[i] = src[src[i]]
    words = np.array(VOCAB + [RARE_WORD], dtype=object)
    texts: list[str] = []
    langs = np.array([lg for lg, _ in LANG_MIX], dtype=object)
    out_lang = langs[lang_idx].copy()
    for i in range(n_docs):
        s = src[i]
        pos = np.arange(n_tok[s], dtype=np.int64)
        u = unit(seed, "w", s, pos)
        tok = np.where(
            unit(seed, "rare", s, pos) < RARE_SHARE,
            len(VOCAB),
            (u * len(VOCAB)).astype(np.int64),
        )
        if s != i:
            edit = unit(seed, "edit", i, pos) < DUP_EDIT_SHARE
            tok = np.where(edit, (h(seed, "ew", i, pos) % np.uint64(len(VOCAB))).astype(np.int64), tok)
            out_lang[i] = out_lang[s]
        texts.append(" ".join(words[tok]))
    in_cluster = np.zeros(n_docs, dtype=bool)
    in_cluster[is_dup] = True
    in_cluster[src[is_dup]] = True
    text_arr = pa.array(texts, pa.string())
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": text_arr,
            "lang": pa.array(out_lang, pa.string()),
            "source": pa.array(
                np.char.add("src", (h(seed, "src", ids) % np.uint64(20)).astype(str)).astype(object),
                pa.string(),
            ),
            "n_chars": pc.utf8_length(text_arr).cast(pa.int64()),
        }
    )
    return table, float(in_cluster.mean())


def write_parquet(table: pa.Table, path: str) -> None:
    """Write one table atomically (rename into place), one row group."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)
