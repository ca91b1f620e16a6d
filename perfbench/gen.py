"""Seeded input generators for the benchmark workloads.

Every generator splits its randomness in two:

* a *structure* stream with a fixed seed decides sizes, key ranks (Zipf
  skew), topic-partition placement, offsets and value lengths, so every
  seed yields the same sizes, skew and duplicate structure;
* a *content* stream seeded by ``--seed`` decides the bytes: which key
  string a rank maps to, the words in each value, header ids, and for the
  corpus the doc_id permutation and the token bijection.

The same seed gives byte-identical files; the program only ever sees the
files written here.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240917
TOPICS = ["orders", "clicks", "payments", "audit"]  # no '-': names parse
PARTITIONS_PER_TOPIC = 16  # 4 x 16 = 64 topic-partitions
KEY_SPACE = 100_000
ZIPF_S = 1.1
KINDS = ["view", "cart", "paid", "void", "ship", "back"]  # all 4 chars
BASE_TS_MS = 1_700_000_000_000
FILE_MTIME_BASE = 1_700_000_000
# Tokens the curate queries match literally: the quality label's stopword
# list and the C4 'lorem ipsum' rule. The corpus bijection keeps them.
LITERAL_TOKENS = ("the", "a", "and", "of", "to", "in", "is", "for", "on", "with",
                  "lorem", "ipsum")

RECORD_SCHEMA = pa.schema([
    pa.field("topic", pa.string(), nullable=False),
    pa.field("partition", pa.int32(), nullable=False),
    pa.field("offset", pa.int64(), nullable=False),
    pa.field("timestamp", pa.timestamp("us", tz="UTC")),
    pa.field("key", pa.binary()),
    pa.field("value", pa.binary()),
    pa.field("headers", pa.list_(pa.struct([
        pa.field("key", pa.string(), nullable=False),
        pa.field("value", pa.binary())]))),
])


def record_hash(topic, partition, offset, value):
    """Per-record digest halves; the JVM side computes the same over the
    read-back objects (md5 of ``topic|partition|offset|value``)."""
    h = hashlib.md5(f"{topic}|{partition}|{offset}|{value}".encode()).hexdigest()
    return int(h[0:8], 16), int(h[8:16], 16)


class HashSum:
    """Order-independent multiset hash: component-wise sums of the two
    32-bit digest halves, plus the record count."""

    def __init__(self):
        self.count = self.hi = self.lo = 0

    def add(self, topic, partition, offset, value):
        hi, lo = record_hash(topic, partition, offset, value)
        self.count += 1
        self.hi += hi
        self.lo += lo

    def as_dict(self):
        return {"count": self.count, "hash": f"{self.hi:x}-{self.lo:x}"}


def _zipf_ranks(rng, n):
    k = np.arange(1, KEY_SPACE + 1, dtype=np.float64)
    cdf = np.cumsum(k ** -ZIPF_S)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n)).astype(np.int64)


def _word_table(rng):
    """Fixed vocabulary: 32 words per length 2..9, letters only."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    table = {}
    for length in range(2, 10):
        idx = rng.integers(0, 26, size=(32, length))
        table[length] = [bytes(letters[row]).decode() for row in idx]
    return table


def make_records(seed, n, partitions_per_topic=PARTITIONS_PER_TOPIC):
    """``n`` Kafka-shaped records as a column dict, in arrival order.

    Sizes, key ranks, placement and value lengths come from the structure
    stream; key strings, value words, amounts and header ids from
    ``seed``."""
    srng = np.random.default_rng(STRUCTURE_SEED)
    crng = np.random.default_rng([seed, 1])
    vocab = _word_table(np.random.default_rng(STRUCTURE_SEED + 1))

    ranks = _zipf_ranks(srng, n)
    n_tp = len(TOPICS) * partitions_per_topic
    tp = ranks % n_tp
    base_off = srng.integers(0, 1_000_000, size=n_tp)
    n_words = srng.integers(20, 60, size=n)
    word_lens = srng.integers(2, 10, size=int(n_words.sum()))
    ts_step = srng.integers(0, 5, size=n)

    key_of_rank = crng.permutation(KEY_SPACE)
    word_pick = crng.integers(0, 32, size=len(word_lens))
    amounts = crng.integers(0, 1_000_000, size=n)
    kinds = crng.integers(0, len(KINDS), size=n)
    trace_ids = crng.integers(0, 2 ** 63, size=n, dtype=np.int64)

    # offsets: each topic-partition counts up from its base offset
    order = np.argsort(tp, kind="stable")
    offsets = np.empty(n, dtype=np.int64)
    counts = np.bincount(tp, minlength=len(base_off))
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    offsets[order] = base_off[tp[order]] + (np.arange(n) - starts[tp[order]])
    timestamps = BASE_TS_MS * 1000 + np.cumsum(ts_step) * 1000
    flat_vocab = np.array([vocab[L][j] for L in range(2, 10) for j in range(32)], dtype=object)
    all_words = flat_vocab[(word_lens - 2) * 32 + word_pick].tolist()
    ends = np.cumsum(n_words).tolist()
    starts_w = [0] + ends[:-1]
    keys = [f"user-{k:06d}" for k in key_of_rank[ranks].tolist()]
    kind_s = [KINDS[k] for k in kinds.tolist()]
    values = [(f'{{"user":"{k}","amount":{a:06d},"kind":"{kd}","note":"'
               + " ".join(all_words[lo:hi]) + '"}').encode()
              for k, a, kd, lo, hi in zip(keys, amounts.tolist(), kind_s, starts_w, ends)]
    topics = [TOPICS[t // partitions_per_topic] for t in tp.tolist()]
    parts = [t % partitions_per_topic for t in tp.tolist()]
    headers = [[{"key": "source", "value": b"perfbench"},
                {"key": "trace", "value": f"{t:016x}".encode()}] for t in trace_ids.tolist()]
    keys = [k.encode() for k in keys]
    offsets = offsets.tolist()
    return {"topic": topics, "partition": parts, "offset": offsets,
            "timestamp": timestamps, "key": keys, "value": values,
            "headers": headers}


def _slice(cols, lo, hi):
    return {k: v[lo:hi] for k, v in cols.items()}


def _write_parquet(cols, path, mtime):
    table = pa.Table.from_pydict(cols, schema=RECORD_SCHEMA)
    pq.write_table(table, path, compression="snappy")
    os.utime(path, (mtime, mtime))


def _expected(cols, batches, ext=".gz"):
    """Read-back digest of every record plus the object names the default
    template ``{{topic}}-{{partition}}-{{start_offset}}`` renders: one
    object per topic-partition per batch, named by its lowest offset."""
    hs = HashSum()
    names = set()
    for lo, hi in batches:
        first = {}
        for i in range(lo, hi):
            topic, part, off = cols["topic"][i], cols["partition"][i], cols["offset"][i]
            hs.add(topic, part, off, cols["value"][i].decode())
            k = (topic, part)
            first[k] = min(first.get(k, off), off)
        names.update(f"{t}-{p}-{o}{ext}" for (t, p), o in first.items())
    line_bytes = sum(jsonl_line_bytes(k, v, o) for k, v, o in
                     zip(cols["key"], cols["value"], cols["offset"]))
    return dict(hs.as_dict(), names=sorted(names), line_bytes=line_bytes)


def jsonl_line_bytes(key, value, offset):
    """Bytes of the line the sink writes for fields key,value,offset:
    ``{"key":"k","value":"v","offset":n}`` plus its newline; the ASCII
    value's quotes gain one escape byte each."""
    return 32 + len(key) + len(value) + value.count(b'"') + len(str(offset))


def write_stream(seed, out_dir, n_files, per_file, partitions_per_topic=PARTITIONS_PER_TOPIC):
    """``n_files`` parquet files of ``per_file`` consecutive records; the
    file source reads one per micro-batch, in file order."""
    os.makedirs(out_dir, exist_ok=True)
    cols = make_records(seed, n_files * per_file, partitions_per_topic)
    batches = []
    for f in range(n_files):
        lo, hi = f * per_file, (f + 1) * per_file
        _write_parquet(_slice(cols, lo, hi),
                       os.path.join(out_dir, f"part-{f:05d}.parquet"),
                       FILE_MTIME_BASE + f)
        batches.append((lo, hi))
    return _expected(cols, batches)


def write_batch(seed, out_dir, n, n_files=4):
    """``n`` records in ``n_files`` parquet files, sunk as ONE batch."""
    os.makedirs(out_dir, exist_ok=True)
    cols = make_records(seed, n)
    step = -(-n // n_files)
    for f in range(n_files):
        _write_parquet(_slice(cols, f * step, min(n, (f + 1) * step)),
                       os.path.join(out_dir, f"part-{f:05d}.parquet"),
                       FILE_MTIME_BASE + f)
    return _expected(cols, [(0, n)])


# ------------------------------------------------------------------ corpus

def _token_bijection(rng, tokens):
    """Map each distinct token to a new token of the same length and the
    same per-character class (lowercase / uppercase / digit / other kept),
    injectively. Tokens the curation rules match literally stay fixed."""
    fixed = set(LITERAL_TOKENS)
    lower = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    digits = np.frombuffer(b"0123456789", dtype=np.uint8)
    used = set(fixed)
    out = {}
    for tok in sorted(tokens):
        if tok in fixed:
            out[tok] = tok
            continue
        while True:
            chars = []
            for ch in tok:
                if "a" <= ch <= "z":
                    chars.append(chr(lower[rng.integers(26)]))
                elif "A" <= ch <= "Z":
                    chars.append(chr(lower[rng.integers(26)]).upper())
                elif "0" <= ch <= "9":
                    chars.append(chr(digits[rng.integers(10)]))
                else:
                    chars.append(ch)
            cand = "".join(chars)
            if cand not in used:
                used.add(cand)
                out[tok] = cand
                break
    return out


def make_corpus(seed, base_path, n_docs=None):
    """The base corpus (its first ``n_docs`` documents by doc_id, or all)
    with doc_ids permuted and tokens renamed, both by ``seed``. Duplicates,
    token lengths and letter classes are kept, so the dedup clusters and
    C4 flag rates are those of the base. Tokens are renamed on their
    lowercase form so case-folding rules see the same token identities."""
    base = pq.read_table(base_path).sort_by("doc_id")
    if n_docs is not None:
        base = base.slice(0, n_docs)
    base = base.to_pydict()
    rng = np.random.default_rng([seed, 2])
    ids = base["doc_id"]
    perm = rng.permutation(len(ids))
    new_id = {ids[i]: ids[perm[i]] for i in range(len(ids))}
    vocab = {t.lower() for text in base["text"] for t in text.split()}
    bij = _token_bijection(rng, vocab)

    def rename(tok):
        m = bij.get(tok.lower(), tok)
        return "".join(c.upper() if o.isupper() else c for c, o in zip(m, tok))

    rows = []
    for i in range(len(ids)):
        text = base["text"][i]
        parts = text.split(" ")
        rows.append((new_id[ids[i]], " ".join(rename(p) if p else p for p in parts),
                     base["lang"][i], base["source"][i], base["n_chars"][i]))
    rows.sort()
    cols = list(zip(*rows))
    return pa.table({"doc_id": pa.array(cols[0], pa.int64()),
                     "text": pa.array(cols[1], pa.string()),
                     "lang": pa.array(cols[2], pa.string()),
                     "source": pa.array(cols[3], pa.string()),
                     "n_chars": pa.array(cols[4], pa.int64())})


def write_corpus(seed, base_path, out_dir, n_docs=None):
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(make_corpus(seed, base_path, n_docs), path, compression="snappy")
    os.utime(path, (FILE_MTIME_BASE, FILE_MTIME_BASE))
    return path
