"""Seeded input generators and their expected outputs.

Everything here is derived from the workload seed alone, with the
benchmark's own template algebra, so an edit to the library's fixture
code cannot change what the benchmark measures. Pure Python plus
pyarrow: no Spark session is needed to build or check an input.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SPANS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", pa.list_(SPAN_TYPE)),
        ("expected", pa.list_(SPAN_TYPE)),
        ("gt_parse", pa.string()),
    ]
)
TEXT_SCHEMA = pa.schema([("doc_id", pa.string()), ("text", pa.string())])
STREAM_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("text", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))]
)

# A document the extraction kernel cannot parse (recursion depth): it
# must land in quarantine/, never fail the job.
POISON_HTML = "<div>" * 4000 + "x" + "</div>" * 4000

# Workload shapes. The same figures are stated in BENCHMARK.json and
# docbench/README.md; change all three together.
EXTRACT_DOCS = 2000
EXTRACT_HEAVY_SHARE = 0.10
EXTRACT_POISON_EVERY = 250
EXTRACT_FILES = 8
SKEW_HEAVY_DOCS = 3
SKEW_HEAVY_SPANS = 3000
DEDUP_DOCS = 1200
DEDUP_EXACT_SHARE = 0.10
DEDUP_NEAR_SHARE = 0.05
DEDUP_FILES = 4
STREAM_RATE = 150
STREAM_TICK_S = 0.1
STREAM_REARRIVAL_SHARE = 0.10
STREAM_REARRIVAL_DELAY_S = (3.0, 8.0)
STREAM_LEAK_SHARE = 0.05
STREAM_BENCH_TEXTS = 20
STREAM_PRIME_DOCS = 300
SHINGLE_N = 8


def vocabulary(rng: random.Random, size: int = 4000) -> list:
    """Distinct lowercase ASCII words of 3 to 9 letters."""
    words: set = set()
    while len(words) < size:
        words.add("".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _list_marker(kind: str, i: int) -> str:
    if kind == "a":
        return chr(97 + i)
    if kind == "A":
        return chr(65 + i)
    if kind == "i":
        return chr(0x2170 + i)
    if kind == "I":
        return chr(0x2160 + i)
    return str(i + 1)


def wrap_html(rng: random.Random, words: list) -> tuple:
    """Wrap clean words in one boilerplate HTML shape; return
    ``(html, expected_text)``. The expected text follows the documented
    normalization rules (block text kept, list items gain markers, table
    cells and ``<br>`` join with one space)."""
    text = " ".join(words)
    shape = rng.randrange(8)
    if shape == 0 or len(words) < 2:
        return text, text
    if shape == 1:
        return f"<p>{text}</p>", text
    if shape == 2:
        rest = " ".join(words[1:])
        return f'<div class="c{rng.randrange(9)}"><b>{words[0]}</b> {rest}</div>', text
    if shape == 3:
        level = rng.randint(1, 6)
        return f"<h{level}>{text}</h{level}>", text
    cut = rng.randrange(1, len(words))
    a, b = " ".join(words[:cut]), " ".join(words[cut:])
    if shape == 4:
        return f"{a}<br>{b}", text
    if shape == 5:
        return f'<table border="1"><tr><td class="x">{a}</td><td>{b}</td></tr></table>', text
    if shape == 6:
        kind = rng.choice("1aAiI")
        html = f'<ol type="{kind}"><li>{a}</li><li>{b}</li></ol>'
        return html, f"{_list_marker(kind, 0)}. {a} {_list_marker(kind, 1)}. {b}"
    return f"<ul><li>{a}</li><li>{b}</li></ul>", f"• {a} • {b}"


def span_doc(rng: random.Random, doc_id: str, vocab: list, n_text=None, n_media=None):
    """One interleaved document: (spans stored shuffled with offset
    labels, expected spans in reading order, gt_parse JSON)."""
    if n_text is None:
        heavy = rng.random() < EXTRACT_HEAVY_SHARE
        n_text = rng.randint(24, 40) if heavy else rng.randint(1, 8)
        n_media = rng.randint(24, 40) if heavy else rng.randint(0, 3)
    reading = []
    for _ in range(n_text):
        start = rng.randrange(len(vocab))
        words = vocab[start : start + rng.randint(1, 12)] or [vocab[0]]
        reading.append(("text",) + wrap_html(rng, words))
    for j in range(n_media):
        ref = f"img_{doc_id}_{j}"
        reading.insert(rng.randrange(len(reading) + 1), ("media", "", ref))
    spans, expected = [], []
    for i, item in enumerate(reading):
        if item[0] == "media":
            span = {"kind": "media", "text": "", "media_ref": item[2], "offset": i}
            spans.append(span)
            expected.append(dict(span))
        else:
            spans.append({"kind": "text", "text": item[1], "media_ref": "", "offset": i})
            expected.append({"kind": "text", "text": item[2], "media_ref": "", "offset": i})
    rng.shuffle(spans)
    gt = {
        "doc": {
            "title": " ".join(rng.sample(vocab, 3)),
            "items": [
                {"nm": rng.choice(vocab), "cnt": str(rng.randint(1, 9))}
                for _ in range(rng.randint(1, 4))
            ],
        }
    }
    return spans, expected, json.dumps(gt, sort_keys=True)


@dataclass
class SpansInput:
    """A staged spans table and what a correct extraction yields."""

    files: list  # one list of rows per parquet file
    expected: dict = field(default_factory=dict)  # doc_id -> expected spans
    poison: set = field(default_factory=set)

    @property
    def n_docs(self) -> int:
        return sum(len(f) for f in self.files)

    def write(self, path: str) -> None:
        write_files(path, self.files, SPANS_SCHEMA)


def spans_input(seed: int, heavy_docs: int = 0, poison: bool = True) -> SpansInput:
    """The ``extract`` corpus; ``heavy_docs`` adds documents of
    ``SKEW_HEAVY_SPANS`` spans each, one per file, beside light docs.
    ``poison=False`` leaves the poison documents out: span mode has no
    quarantine channel, so one would fail the whole job."""
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    out = SpansInput(files=[[] for _ in range(EXTRACT_FILES)])
    ids = [f"doc{n:06d}" for n in rng.sample(range(10 * EXTRACT_DOCS), EXTRACT_DOCS)]
    for i, doc_id in enumerate(ids):
        if poison and i % EXTRACT_POISON_EVERY == EXTRACT_POISON_EVERY // 2:
            spans = [{"kind": "text", "text": POISON_HTML, "media_ref": "", "offset": 0}]
            row = (doc_id, spans, [], '{"doc": {"title": "poison"}}')
            out.poison.add(doc_id)
        else:
            spans, expected, gt = span_doc(rng, doc_id, vocab)
            row = (doc_id, spans, expected, gt)
            out.expected[doc_id] = expected
        out.files[i % EXTRACT_FILES].append(row)
    half = SKEW_HEAVY_SPANS // 2
    for h in range(heavy_docs):
        doc_id = f"heavy{h:02d}"
        spans, expected, gt = span_doc(rng, doc_id, vocab, n_text=half, n_media=SKEW_HEAVY_SPANS - half)
        out.files[h % EXTRACT_FILES].append((doc_id, spans, expected, gt))
        out.expected[doc_id] = expected
    return out


def write_files(path: str, files: list, schema: pa.Schema, prefix: str = "part") -> None:
    import os

    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(files):
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
        pq.write_table(table, os.path.join(path, f"{prefix}-{i:05d}.parquet"))


# ---- dedup -----------------------------------------------------------------


@dataclass
class DedupInput:
    rows: list  # (doc_id, text)
    exact_clusters: list  # lists of doc_ids with byte-identical text
    near_pairs: list  # (a, b, reference jaccard) with a < b
    uniques: set  # doc_ids planted with no duplicate

    def write(self, path: str) -> None:
        files = [self.rows[i::DEDUP_FILES] for i in range(DEDUP_FILES)]
        write_files(path, files, TEXT_SCHEMA)

    def survivors(self) -> set:
        """Exact clusters keep their min id, near pairs their lower id."""
        keep = set(self.uniques)
        keep.update(min(c) for c in self.exact_clusters)
        keep.update(a for a, _, _ in self.near_pairs)
        return keep


def word_ngrams(text: str, n: int) -> set:
    words = text.lower().split()
    return {" ".join(words[i : i + n]) for i in range(max(len(words) - n, 0) + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = word_ngrams(a, n), word_ngrams(b, n)
    return len(sa & sb) / len(sa | sb)


def dedup_input(seed: int) -> DedupInput:
    """Random-word documents, with ``DEDUP_EXACT_SHARE`` of the corpus in
    byte-identical clusters of 2 to 4 and ``DEDUP_NEAR_SHARE`` in pairs
    that differ by one token."""
    rng = random.Random(seed ^ 0xD3D0)
    vocab = vocabulary(rng)
    ids = iter(f"doc{n:06d}" for n in rng.sample(range(10 * DEDUP_DOCS), DEDUP_DOCS))

    def text() -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 140)))

    rows, clusters, pairs, uniques = [], [], [], set()
    n_exact = int(DEDUP_DOCS * DEDUP_EXACT_SHARE)
    while n_exact > 1:
        size = min(rng.randint(2, 4), n_exact)
        body = text()
        members = [next(ids) for _ in range(size)]
        rows += [(m, body) for m in members]
        clusters.append(members)
        n_exact -= size
    for _ in range(int(DEDUP_DOCS * DEDUP_NEAR_SHARE) // 2):
        body = text()
        words = body.split()
        k = rng.randrange(len(words))
        words[k] = rng.choice([w for w in vocab[:50] if w != words[k]])
        a, b = sorted((next(ids), next(ids)))
        other = " ".join(words)
        rows += [(a, body), (b, other)]
        pairs.append((a, b, jaccard(body, other)))
    for doc_id in ids:
        rows.append((doc_id, text()))
        uniques.add(doc_id)
    rng.shuffle(rows)
    return DedupInput(rows, clusters, pairs, uniques)


# ---- stream ----------------------------------------------------------------


@dataclass
class StreamInput:
    """The arrival schedule: ``docs[i]`` is due ``due[i]`` seconds after
    the generator starts. ``prime`` docs are staged before it starts."""

    prime: list  # (doc_id, text)
    docs: list  # (doc_id, text)
    due: list
    first_of: dict  # re-arrival doc_id -> doc_id of the first arrival
    bench_texts: list

    def n_hits(self, text: str, bench: set) -> int:
        """Reference contamination count: occurrences of benchmark word
        n-grams in ``text`` (ASCII text, so whitespace rules agree)."""
        words = text.lower().split()
        return sum(" ".join(words[i : i + SHINGLE_N]) in bench for i in range(len(words) - SHINGLE_N + 1))

    def bench_shingles(self) -> set:
        out: set = set()
        for t in self.bench_texts:
            out |= word_ngrams(t, SHINGLE_N)
        return out


def stream_input(seed: int, seconds: float) -> StreamInput:
    """``seconds`` of arrivals at ``STREAM_RATE`` docs/s, evenly spaced,
    plus ``STREAM_PRIME_DOCS`` documents staged before the schedule
    starts. A re-arrival repeats an earlier document byte for byte under
    a new id, 3 to 8 s later (well inside the 10 minute watermark); a
    leak embeds a 12-word run of one benchmark text."""
    rng = random.Random(seed ^ 0x57EA)
    vocab = vocabulary(rng)
    bench_texts = [" ".join(rng.choice(vocab) for _ in range(50)) for _ in range(STREAM_BENCH_TEXTS)]

    def text() -> str:
        words = [rng.choice(vocab) for _ in range(rng.randint(30, 80))]
        if rng.random() < STREAM_LEAK_SHARE:
            src = rng.choice(bench_texts).split()
            at = rng.randrange(len(src) - 12)
            pos = rng.randrange(len(words))
            words[pos:pos] = src[at : at + 12]
        return " ".join(words)

    prime = [(f"p{seed % 1000:03d}_{k:06d}", text()) for k in range(STREAM_PRIME_DOCS)]
    n = int(seconds * STREAM_RATE)
    due = [i / STREAM_RATE for i in range(n)]
    docs: list = [None] * n
    first_of = {}
    for i in range(n):
        if docs[i] is not None:
            continue
        doc_id = f"s{seed % 1000:03d}_{i:06d}"
        docs[i] = (doc_id, text())
        if rng.random() < STREAM_REARRIVAL_SHARE:
            lo, hi = STREAM_REARRIVAL_DELAY_S
            j = i + int(rng.uniform(lo, hi) * STREAM_RATE)
            if j < n and docs[j] is None:
                docs[j] = (f"{doc_id}_r", docs[i][1])
                first_of[f"{doc_id}_r"] = doc_id
    return StreamInput(prime, docs, due, first_of, bench_texts)
