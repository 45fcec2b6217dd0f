"""Seeded input generator for the benchmark.

Writes Signal-style message records as parquet (one schema for every
workload) plus a small manifest, and returns the generator's own
expectations, which run.py uses to check the program's outputs. The
same seed gives byte-identical files.

Record schema: msg_id int64, kind string, source int64 (the contact),
group_id string, body string, quote string, emoji string,
ts timestamp(us, UTC).

Kinds follow the arms of MessageOps.normalize: "message" is a plain
received body, "purchase" a sent body, "view" a quote reply and "click"
a reaction. A null body normalizes to the noise literal
"Empty data message"; a reaction normalizes to the noise prefix
"Reacted with ".
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NOISE_LITERALS = [
    "failed to derive thread from content",
    "Null message (for example deleted)",
    "is calling!",
    "is typing...",
    "got PNI signature message",
    "Empty data message",
    "presage",
    "failed to display desktop notification",
    "Something went wrong!",
]
NOISE_PREFIXES = [
    "got Delivery receipt",
    "got Read receipt",
    "new story:",
    "receipt for messages sent at",
    "Reacted with ",
]
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
EMOJI = ["\U0001F44D", "❤️", "\U0001F602", "\U0001F62E", "\U0001F622"]

# Chunker parameters of the ingest path (the library's streaming ingest
# uses the same pair): bodies over IDEAL_TOKENS words split into
# CHUNK_WORDS-word chunks.
IDEAL_TOKENS = 48
CHUNK_WORDS = 36
# store id = msg_id * ID_STRIDE + chunk_id
ID_STRIDE = 64

VOCAB_SIZE = 6000
WORD_ZIPF_S = 1.05
NOISE_SHARE = 0.12
LONG_SHARE = 0.20
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Input sizes per workload.
SIZES = {
    "ingest": {"files": 16, "msgs_per_file": 200, "warmup_files": 4,
               "warmup_msgs_per_file": 25, "contacts": 400},
    "serve": {"corpus": 600, "append_files": 60, "append_msgs": 12,
              "contacts": 400, "questions": 40, "draws": 2000,
              "deletes": 30, "delete_msgs": 2},
    "curate": {"msgs": 3000, "warmup_msgs": 150, "contacts": 300, "contact_zipf_s": 1.3,
               "hot_exact_share": 0.03, "hot_prefix_share": 0.25,
               "near_dup_share": 0.06},
}

SCHEMA = pa.schema([
    ("msg_id", pa.int64()),
    ("kind", pa.string()),
    ("source", pa.int64()),
    ("group_id", pa.string()),
    ("body", pa.string()),
    ("quote", pa.string()),
    ("emoji", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _vocab(rng):
    """VOCAB_SIZE distinct pseudo-words, ranked for a Zipf draw; the ten
    English stopwords sit at the odd ranks 1..19 so every longer text
    reads as English to the language gate."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    seen = set(EN_STOPWORDS)
    words = []
    while len(words) < VOCAB_SIZE - len(EN_STOPWORDS):
        n = 2 + len(words) % 3  # syllables fixed by rank: same byte mix per seed
        w = "".join(cons[int(rng.integers(len(cons)))] + vows[int(rng.integers(len(vows)))]
                    for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    ranked = []
    stops = iter(EN_STOPWORDS)
    rest = iter(words)
    for r in range(VOCAB_SIZE):
        ranked.append(next(stops) if r % 2 == 1 and r < 20 else next(rest))
    return np.array(ranked, dtype=object)


def _zipf_p(n, s):
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


class _Text:
    def __init__(self, rng):
        self.rng = rng
        self.vocab = _vocab(rng)
        self.p = _zipf_p(VOCAB_SIZE, WORD_ZIPF_S)

    def words(self, n):
        idx = self.rng.choice(VOCAB_SIZE, size=n, p=self.p)
        return list(self.vocab[idx])

    def text(self, n):
        return " ".join(self.words(n))

    def noise(self):
        if self.rng.random() < 0.5:
            return NOISE_LITERALS[int(self.rng.integers(len(NOISE_LITERALS)))]
        pre = NOISE_PREFIXES[int(self.rng.integers(len(NOISE_PREFIXES)))]
        sep = "" if pre.endswith(" ") else " "
        return pre + sep + str(int(self.rng.integers(10**9, 10**10)))


def _exact(rng, n, shares):
    """A random order of n labels in which each label's count is fixed
    by its share (largest remainder), so seeds vary the content but not
    the composition."""
    labels = list(shares)
    raw = np.array([shares[k] for k in labels], dtype=np.float64)
    raw = raw / raw.sum() * n
    cnt = np.floor(raw).astype(int)
    cnt[np.argsort(-(raw - cnt), kind="stable")[:n - cnt.sum()]] += 1
    order = np.repeat(np.arange(len(labels)), cnt)
    rng.shuffle(order)
    return [labels[i] for i in order]


def _lengths(rng, n, short=(4, 40), long=(60, 180)):
    """n body lengths in words: LONG_SHARE of them evenly spread over
    `long` (over the chunk threshold), the rest over `short`; shuffled."""
    n_long = round(n * LONG_SHARE)
    ls = np.concatenate([np.linspace(*long, n_long), np.linspace(*short, n - n_long)])
    ls = np.round(ls).astype(int)
    rng.shuffle(ls)
    return [int(x) for x in ls]


def _contacts(rng, n, k, s):
    p = _zipf_p(k, s)
    return _exact(rng, n, {c + 1: p[c] for c in range(k)})


# kind mix of the message stream; the shares are exact per input
KIND_SHARES = {"noise": NOISE_SHARE, "null": 0.02, "click": 0.08, "view": 0.10,
               "purchase": 0.08, "message": 1.0 - NOISE_SHARE - 0.28}


def _messages(rng, text, n, first_id, contacts, contact_s=1.1):
    """n Signal-style records with the exact kind mix KIND_SHARES and
    long-body share LONG_SHARE."""
    src = _contacts(rng, n, contacts, contact_s)
    kinds = _exact(rng, n, KIND_SHARES)
    lens = iter(_lengths(rng, sum(k not in ("noise", "null") for k in kinds)))
    rows = {c: [] for c in SCHEMA.names}
    for i, k in enumerate(kinds):
        kind, body, quote, emoji = k, None, None, None
        if k == "noise":
            kind, body = "message", text.noise()
        elif k == "null":
            kind = "message"                  # -> "Empty data message"
        else:
            body = text.text(next(lens))
            if k == "click":
                emoji = EMOJI[int(rng.integers(len(EMOJI)))]
            elif k == "view":
                quote = text.text(int(rng.integers(3, 13)))
        rows["msg_id"].append(first_id + i)
        rows["kind"].append(kind)
        rows["source"].append(int(src[i]))
        rows["group_id"].append(f"g{int(rng.integers(40))}" if rng.random() < 0.3 else None)
        rows["body"].append(body)
        rows["quote"].append(quote)
        rows["emoji"].append(emoji)
        rows["ts"].append(BASE_TS_US + (first_id + i) * 7_000_000 + int(rng.integers(7_000_000)))
    return rows


def _write(rows, path):
    table = pa.table({c: rows[c] for c in SCHEMA.names}, schema=SCHEMA)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _slice(rows, lo, hi):
    return {c: v[lo:hi] for c, v in rows.items()}


def normalized_body(kind, body, quote, emoji):
    """MessageOps.normalize, re-stated in Python."""
    if kind == "view" and quote is not None:
        return None if body is None else f'Answer to message "{quote}": {body}'
    if kind == "click" and emoji is not None:
        return None if body is None else f'Reacted with {emoji} to message: "{body}"'
    if body is not None:
        return body
    return "Empty data message"


def is_noise(body):
    """NoiseFilter.keep, negated."""
    if body is None:
        return True
    return body in NOISE_LITERALS or any(body.startswith(p) for p in NOISE_PREFIXES)


def chunk_count(body):
    """Chunker.chunk with (IDEAL_TOKENS, CHUNK_WORDS), counted from the
    generated text's own length."""
    n = len(body.split())
    if n == 0:
        return 0
    return 1 if n <= IDEAL_TOKENS else math.ceil(n / CHUNK_WORDS)


def expected_chunk_ids(rows):
    """Store ids the write path must produce for these records."""
    ids = []
    for m, k, b, q, e in zip(rows["msg_id"], rows["kind"], rows["body"],
                             rows["quote"], rows["emoji"]):
        nb = normalized_body(k, b, q, e)
        if is_noise(nb):
            continue
        ids.extend(m * ID_STRIDE + j for j in range(chunk_count(nb)))
    return ids


def _body_bytes(rows):
    return sum(len(b.encode("utf-8")) for b in rows["body"] if b is not None)


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`; return
    (manifest, expectations)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, {"ingest": 1, "serve": 2, "curate": 3}[workload]])
    text = _Text(rng)
    size = SIZES[workload]
    man = {"workload": workload, "seed": seed, "ideal_tokens": IDEAL_TOKENS,
           "chunk_words": CHUNK_WORDS, "id_stride": ID_STRIDE, "sizes": size}
    exp = {}
    if workload == "ingest":
        n = size["files"] * size["msgs_per_file"]
        rows = _messages(rng, text, n, 1, size["contacts"])
        d = os.path.join(out, "backlog")
        os.makedirs(d)
        fbytes = 0
        for f in range(size["files"]):
            lo = f * size["msgs_per_file"]
            fbytes += _write(_slice(rows, lo, lo + size["msgs_per_file"]),
                             os.path.join(d, f"part-{f:05d}.parquet"))
        d = os.path.join(out, "warmup")
        os.makedirs(d)
        nxt = n + 1
        for f in range(size["warmup_files"]):
            r = _messages(rng, text, size["warmup_msgs_per_file"], nxt, size["contacts"])
            nxt += size["warmup_msgs_per_file"]
            _write(r, os.path.join(d, f"part-{f:05d}.parquet"))
        ids = expected_chunk_ids(rows)
        man.update(input_rows=n, input_file_bytes=fbytes, input_body_bytes=_body_bytes(rows),
                   expected_chunks=len(ids))
        exp["chunk_ids"] = ids
    elif workload == "serve":
        rows = _messages(rng, text, size["corpus"], 1, size["contacts"])
        os.makedirs(os.path.join(out, "corpus"))
        fbytes = _write(rows, os.path.join(out, "corpus", "part-00000.parquet"))
        d = os.path.join(out, "appends")
        os.makedirs(d)
        nxt = size["corpus"] + 1
        for f in range(size["append_files"]):
            r = _messages(rng, text, size["append_msgs"], nxt, size["contacts"])
            nxt += size["append_msgs"]
            _write(r, os.path.join(d, f"part-{f:05d}.parquet"))
        pool = [" ".join(text.words(int(rng.integers(6, 17)))) for _ in range(size["questions"])]
        qp = _zipf_p(size["questions"], 1.1)
        draws = _exact(rng, size["draws"], {q: qp[q] for q in range(size["questions"])})
        # deletes: every chunk of a few corpus messages per delete op
        alive = [m for m, k, b, q, e in zip(rows["msg_id"], rows["kind"], rows["body"],
                                            rows["quote"], rows["emoji"])
                 if not is_noise(normalized_body(k, b, q, e))]
        pick = rng.choice(len(alive), size=size["deletes"] * size["delete_msgs"], replace=False)
        dels = [[int(alive[i]) for i in pick[j:j + size["delete_msgs"]]]
                for j in range(0, len(pick), size["delete_msgs"])]
        with open(os.path.join(out, "questions.json"), "w") as fh:
            json.dump({"pool": pool, "draws": draws, "delete_msgs": dels}, fh)
        man.update(input_rows=size["corpus"], input_file_bytes=fbytes,
                   input_body_bytes=_body_bytes(rows),
                   expected_chunks=len(expected_chunk_ids(rows)))
    else:
        rows = _curate_corpus(rng, text, size)
        os.makedirs(os.path.join(out, "corpus"))
        half = size["msgs"] // 2
        fbytes = _write(_slice(rows, 0, half), os.path.join(out, "corpus", "part-00000.parquet"))
        fbytes += _write(_slice(rows, half, size["msgs"]),
                         os.path.join(out, "corpus", "part-00001.parquet"))
        os.makedirs(os.path.join(out, "warmup"))
        _write(_curate_corpus(rng, text, dict(size, msgs=size["warmup_msgs"])),
               os.path.join(out, "warmup", "part-00000.parquet"))
        man.update(input_rows=size["msgs"], input_file_bytes=fbytes,
                   input_body_bytes=_body_bytes(rows))
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(man, fh)
    return man, exp


def _curate_corpus(rng, text, size):
    """Training-data corpus: Zipf-skewed contacts (one giant group), one
    hot boilerplate text copied verbatim, the same boilerplate as a
    prefix of unique texts, and near-copies within a contact."""
    n = size["msgs"]
    src = _contacts(rng, n, size["contacts"], size["contact_zipf_s"])
    kinds = _exact(rng, n, {"noise": NOISE_SHARE, "hot": size["hot_exact_share"],
                            "hot_prefix": size["hot_prefix_share"],
                            "near_dup": size["near_dup_share"],
                            "fresh": 1.0 - NOISE_SHARE - size["hot_exact_share"]
                            - size["hot_prefix_share"] - size["near_dup_share"]})
    lens = iter(_lengths(rng, n, short=(10, 60), long=(61, 120)))
    hot = text.text(40)
    hot_prefix = " ".join(hot.split()[:30])
    rows = {c: [] for c in SCHEMA.names}
    by_contact = {}
    for i, k in enumerate(kinds):
        s = int(src[i])
        if k == "noise":
            body = text.noise()
        elif k == "hot":
            body = hot
        elif k == "hot_prefix":
            body = hot_prefix + " " + text.text(int(rng.integers(15, 41)))
        elif k == "near_dup" and by_contact.get(s):
            prev = by_contact[s][int(rng.integers(len(by_contact[s])))].split()
            for _ in range(int(rng.integers(1, 4))):
                prev[int(rng.integers(len(prev)))] = text.words(1)[0]
            body = " ".join(prev)
        else:
            body = text.text(next(lens))
            by_contact.setdefault(s, []).append(body)
        rows["msg_id"].append(i + 1)
        rows["kind"].append("message")
        rows["source"].append(s)
        rows["group_id"].append(None)
        rows["body"].append(body)
        rows["quote"].append(None)
        rows["emoji"].append(None)
        rows["ts"].append(BASE_TS_US + i * 7_000_000 + int(rng.integers(7_000_000)))
    return rows
