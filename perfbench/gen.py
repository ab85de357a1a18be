"""Seeded input generators and their independent reference answers.

Every generator is a pure function of its seed (numpy's PCG64 stream),
so the same seed gives byte-identical inputs on every machine. Each
one also returns the answer the program must reproduce, computed here
in plain Python without touching the library:

- ``CdcStream``: Confluent-framed Avro changelog drops plus a
  last-wins replay of the generated records;
- ``search_corpus`` / ``search_requests``: the F1 document table and a
  Zipf-weighted request mix (``workloads.SearchMix`` evaluates the
  answers over the served snapshot with DuckDB and plain Python);
- ``clean_corpus_input``: a corpus with planted exact-dup groups,
  near-dup clusters, low-quality and benchmark-contaminated documents,
  plus the id set that must survive the hygiene chain.
"""

from __future__ import annotations

import numpy as np

# ----------------------------------------------------------------------
# shared helpers
# ----------------------------------------------------------------------


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase ASCII words (3-9 letters), the same for
    every seed: a workload's language is part of its definition, and
    which n-grams are common (and so which MinHash band buckets run
    hot, and how long the hot posting lists are) then does not change
    from seed to seed. Seeds vary the documents and requests."""
    rng = np.random.default_rng(20240101)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


# ----------------------------------------------------------------------
# cdc_upsert: Avro changelog over a bucketed serving table
# ----------------------------------------------------------------------

ROW_KINDS = ["INSERT", "UPDATE_BEFORE", "UPDATE_AFTER", "DELETE"]
ROW_KIND_CODES = {"INSERT": "+I", "UPDATE_BEFORE": "-U", "UPDATE_AFTER": "+U", "DELETE": "-D"}

SCHEMA_V1 = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "_seq", "type": "long"},
        {"name": "op", "type": {"type": "enum", "name": "RowKind", "symbols": ROW_KINDS}},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "long"},
    ],
}
# v2 adds a nullable field (backward-compatible evolution)
SCHEMA_V2 = {
    **SCHEMA_V1,
    "fields": SCHEMA_V1["fields"] + [{"name": "tag", "type": ["null", "string"], "default": None}],
}
SCHEMA_IDS = {1: SCHEMA_V1, 2: SCHEMA_V2}
UNKNOWN_SCHEMA_ID = 99


def _avro_long(n: int) -> bytes:
    """Avro int/long: zigzag, then little-endian 7-bit groups."""
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return _avro_long(len(b)) + b


def confluent_frame(rec: dict, schema_id: int) -> bytes:
    """Confluent wire format (magic 0, big-endian int32 schema id) around
    the Avro binary encoding of one record of SCHEMA_V1 or SCHEMA_V2,
    written here from the Avro 1.11 spec rather than with the library's
    own encoder, so a symmetric encode/decode bug cannot pass the gate."""
    body = (
        _avro_long(rec["id"])
        + _avro_long(rec["_seq"])
        + _avro_long(ROW_KINDS.index(rec["op"]))
        + _avro_string(rec["name"])
        + _avro_long(rec["score"])
    )
    if schema_id == 2:  # union ["null", "string"]: branch index, then value
        body += _avro_long(0) if rec["tag"] is None else _avro_long(1) + _avro_string(rec["tag"])
    return b"\x00" + schema_id.to_bytes(4, "big") + body


class CdcStream:
    """The seeded changelog: a base table plus a sequence of drops.

    ``state`` is the last-wins replay of everything generated so far
    (id -> (name, score, tag)); the program's served table must equal
    it after applying the base table and every drop in order."""

    ZIPF_S = 1.1  # key popularity skew over the existing keys
    NEW_KEY_FRAC = 0.05
    DELETE_FRAC = 0.04
    V2_FRAC = 0.4  # records written with SCHEMA_V2
    POISON_FRAC = 0.01

    def __init__(self, seed: int, base_keys: int, rows_per_drop: int):
        self.rng = np.random.default_rng([seed, 1])
        self.rows_per_drop = rows_per_drop
        self.state: dict[int, tuple] = {
            k: (f"n{k}", int(v), None)
            for k, v in enumerate(self.rng.integers(0, 1_000_000, size=base_keys))
        }
        self.base = dict(self.state)
        # popularity rank -> key, so hot keys spread over hash buckets
        self.hot_order = self.rng.permutation(base_keys)
        self.probs = zipf_probs(base_keys, self.ZIPF_S)
        self.next_key = base_keys
        self.seq = 0
        self.poison = 0

    def base_rows(self) -> list[tuple]:
        return [(k, *v) for k, v in self.base.items()]

    def next_drop(self) -> tuple[list[bytes], int]:
        """One drop: Confluent-framed records in offset order, and the
        number of valid (non-poison) changelog rows among them."""
        rng = self.rng
        n = self.rows_per_drop
        picks = self.hot_order[rng.choice(len(self.probs), size=n, p=self.probs)]
        u_new, u_op, u_ver, u_poison = rng.random((4, n))
        scores = rng.integers(0, 1_000_000, size=n)
        tags = rng.integers(0, 50, size=n)
        out: list[bytes] = []
        valid = 0
        for i in range(n):
            if u_poison[i] < self.POISON_FRAC:
                self.poison += 1
                if i % 2:
                    # registered id, undecodable payload (runaway varint)
                    out.append(b"\x00" + (1).to_bytes(4, "big") + b"\x80" * 12)
                else:
                    out.append(b"\x00" + UNKNOWN_SCHEMA_ID.to_bytes(4, "big") + b"\x02")
                continue
            if u_new[i] < self.NEW_KEY_FRAC:
                key = self.next_key
                self.next_key += 1
            else:
                key = int(picks[i])
            sid = 2 if u_ver[i] < self.V2_FRAC else 1
            tag = f"t{tags[i]}" if sid == 2 and tags[i] % 5 else None
            new = (f"n{key}-{self.seq}", int(scores[i]), tag)
            old = self.state.get(key)
            if old is None:
                ops = [("INSERT", new)]
                self.state[key] = new
            elif u_op[i] < self.DELETE_FRAC:
                ops = [("DELETE", old)]
                del self.state[key]
            else:
                ops = [("UPDATE_BEFORE", old), ("UPDATE_AFTER", new)]
                self.state[key] = new
            for op, (name, score, t) in ops:
                self.seq += 1
                rec = {"id": key, "_seq": self.seq, "op": op, "name": name, "score": score}
                if sid == 2:
                    rec["tag"] = t
                out.append(confluent_frame(rec, sid))
                valid += 1
        return out, valid


# ----------------------------------------------------------------------
# search_mix: F1 documents and a seeded request mix
# ----------------------------------------------------------------------

CATEGORIES = ["technology", "cooking", "travel", "science", "sports", "music", "health", "finance"]


SEARCH_VOCAB = 4000
SEARCH_ZIPF_S = 1.05


def search_corpus(seed: int, n_docs: int):
    """F1-schema documents (id, title, content, category, rating, tags)
    as a list of tuples, plus the vocabulary in popularity order.
    Ratings are distinct, so every top-k by rating is unique."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(SEARCH_VOCAB)
    probs = zipf_probs(SEARCH_VOCAB, SEARCH_ZIPF_S)
    cat_p = zipf_probs(len(CATEGORIES), 0.8)
    ratings = rng.permutation(n_docs)
    n_tok = rng.integers(20, 60, size=n_docs)
    words = np.asarray(vocab, dtype=object)[rng.choice(SEARCH_VOCAB, size=int(n_tok.sum()) + 4 * n_docs, p=probs)]
    cats = rng.choice(len(CATEGORIES), size=n_docs, p=cat_p)
    tag_at = rng.integers(0, 1 << 30, size=(n_docs, 3))
    rows = []
    at = 0
    for i in range(n_docs):
        w = words[at : at + 4 + n_tok[i]].tolist()
        at += 4 + n_tok[i]
        content = " ".join(w[4:]).capitalize() + "."
        rating = round(1.0 + 4.0 * int(ratings[i]) / n_docs, 6)
        tags = sorted({w[4 + int(k % n_tok[i])] for k in tag_at[i]})
        rows.append((f"doc{i:06d}", " ".join(w[:4]).title(), content, CATEGORIES[cats[i]], rating, tags))
    return rows, vocab, probs


def search_requests(seed: int, n_docs: int, vocab: list[str], probs: np.ndarray, n: int):
    """A fixed request sequence of ``n`` cycles. One cycle is 2 point
    lookups, 1 filtered top-k, 3 scan-path full-text matches, 1
    terms+avg aggregation and 1 indexed BM25 top-10, with Zipf-drawn
    terms. Among a cycle's 6 non-lookup requests the scan-path match
    holds the middle (so the median is a scan-path latency) and BM25
    the top sixth (so the 90th percentile is a BM25 latency)."""
    rng = np.random.default_rng([seed, 3])
    cycle = ["lookup", "text_scan", "filter_topk", "text_scan", "lookup", "aggs", "text_scan", "bm25_indexed"]

    # full-text terms come from popularity ranks 10-400 (Zipf-weighted
    # within the band): result sizes stay in one order of magnitude, so
    # a request's cost is set by the program, not by a lucky draw
    band = probs[10:400] / probs[10:400].sum()

    def terms(k):
        return [vocab[10 + j] for j in rng.choice(len(band), size=k, p=band, replace=False)]

    out = []
    for c in cycle * n:
        if c == "lookup":
            out.append((c, {"id": f"doc{int(rng.integers(0, n_docs)):06d}"}))
        elif c == "filter_topk":
            lo = round(float(rng.uniform(1.0, 4.0)), 2)
            out.append((c, {"category": CATEGORIES[int(rng.integers(0, 4))],
                            "gte": lo, "lte": round(lo + 1.0, 2),
                            "top": int(rng.integers(5, 50))}))
        elif c == "text_scan":
            out.append((c, {"query": " ".join(terms(2))}))
        elif c == "aggs":
            lo = round(float(rng.uniform(1.0, 3.0)), 2)
            out.append((c, {"gte": lo}))
        else:
            out.append((c, {"query": " ".join(terms(2))}))
    return [out[i : i + len(cycle)] for i in range(0, len(out), len(cycle))]


# ----------------------------------------------------------------------
# corpus_clean: planted duplicates, junk and contamination
# ----------------------------------------------------------------------


def decompose(text: str) -> str:
    """a -> a + U+0301: after NFC every 'a' becomes the single code
    point U+00E1, so normalization does real recomposing work."""
    return text.replace("a", "a\u0301")


CLEAN_VOCAB = 3000
CLEAN_ZIPF_S = 1.2
CLEAN_DOC_TOKENS = (100, 160)  # [low, high) tokens per document


def clean_corpus_input(seed: int, n_docs: int):
    """Returns (docs, bench, survivors).

    ``docs``: (doc_id, text) rows, ids shuffled so a group's survivor
    is not always its first-generated member. ``bench``: benchmark
    (doc_id, text) rows. ``survivors``: the doc ids the hygiene chain
    must keep — for each exact-dup group and near-dup cluster its
    minimum id; every unique good document; no low-quality and no
    contaminated document.

    Near-dup variants differ from their base (and from each other) in
    the last token only, so every pair in a cluster has 3-gram Jaccard
    >= ~0.98 (threshold 0.8) and misses all four 2-row LSH bands with
    probability ~(1 - 0.98^2)^4 < 1e-5. Unrelated documents share far fewer than
    80% of their shingles, and a chance 13-gram overlap with the
    benchmark under this vocabulary is ~1e-13 per position."""
    rng = np.random.default_rng([seed, 4])
    vocab = vocabulary(CLEAN_VOCAB)
    probs = zipf_probs(CLEAN_VOCAB, CLEAN_ZIPF_S)

    def body():
        k = int(rng.integers(*CLEAN_DOC_TOKENS))
        return [vocab[j] for j in rng.choice(CLEAN_VOCAB, size=k, p=probs)]

    def text(words):
        return decompose(" ".join(words))

    n_bench = max(4, n_docs // 200)
    bench_words = [body()[:40] for _ in range(n_bench)]
    bench = [(i, text(w)) for i, w in enumerate(bench_words)]

    groups: list[list[str]] = []  # each: member texts; survivor = min id
    n_exact = n_docs // 25
    n_near = n_docs // 25
    n_low = n_docs // 20
    n_cont = n_docs // 40
    # group sizes cycle deterministically, so every seed plants the same
    # number of duplicates and only their content varies
    for g in range(n_exact):
        w = body()
        t = text(w)
        copies = 2 + g % 3
        # one copy pre-composed: only NFC makes it an exact duplicate
        groups.append([t] * (copies - 1) + [" ".join(w).replace("a", "\u00e1")])
    for g in range(n_near):
        w = body()
        members = [text(w)]
        for k in range(1 + g % 3):
            # a distinct last token: one shingle of ~100+ differs
            members.append(text(w[:-1] + [f"{vocab[int(rng.integers(0, CLEAN_VOCAB))]}x{k}"]))
        groups.append(members)
    junk = []
    chars = np.array(list("abcdefghij0123456789"))
    for _ in range(n_low):
        junk.append(" ".join(rng.choice(chars, size=int(rng.integers(12, 30)))))
    contaminated = []
    for _ in range(n_cont):
        w = body()
        src = bench_words[int(rng.integers(0, n_bench))]
        at = int(rng.integers(0, len(w)))
        contaminated.append(text(w[:at] + src[5:25] + w[at:]))
    n_used = sum(len(g) for g in groups) + len(junk) + len(contaminated)
    for _ in range(max(0, n_docs - n_used)):
        groups.append([text(body())])

    flat: list[tuple[str, int]] = []  # (text, group index or -1 junk / -2 contaminated)
    for gi, g in enumerate(groups):
        flat.extend((t, gi) for t in g)
    flat.extend((t, -1) for t in junk)
    flat.extend((t, -2) for t in contaminated)
    ids = rng.permutation(len(flat)) + 1
    docs = [(int(ids[i]), t) for i, (t, _) in enumerate(flat)]
    best: dict[int, int] = {}
    for i, (_, gi) in enumerate(flat):
        if gi >= 0:
            best[gi] = min(best.get(gi, 1 << 62), int(ids[i]))
    return docs, bench, set(best.values())
