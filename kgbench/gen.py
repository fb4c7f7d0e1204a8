"""Seeded input generators for the benchmark workloads.

Everything here is pure Python driven by one ``random.Random(seed)`` per
artifact and written with pyarrow, so the same seed yields byte-identical
files and the program under test only ever sees the generated files.

* ``crawl``  — Common-Crawl-shaped pages (url, warc_ts, html, text, lang)
  over a large Zipf proper-noun vocabulary, with an html-only share
  (text null), a few very long pages (the AQE skew path) and an alias
  dictionary for entity linking.
* ``live``   — linked triples (docid, subj id, rel, obj id, score): a base
  table plus doc-disjoint micro-batches, and the vertex labels.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# relation phrases made only of the chunker's stop tokens, so both sides
# of every sentence chunk as entity mentions
RELS = [
    "was born in", "works at", "moved to", "founded", "lives near",
    "joined", "married", "led", "directed", "studied at", "died in",
    "played for", "worked with", "became", "holds", "produced",
    "went to", "lived in", "was known as", "wrote to", "served with",
    "was called", "ran", "leads",
]
_ASIDES = ["(a small town)", "(b. 1867)", "(see notes)", "((disputed))"]
_NOISE = ["It rained.", "The committee agreed.", "Metadaten über café naïveté."]
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "dr", "gr", "kr", "st", "th", "tr", "sh", "ch"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_CODAS = ["", "", "n", "r", "l", "s", "th", "nd", "rk", "x"]
_ORG_WORDS = ["Institute", "Academy", "Foundation", "Works", "Society", "Museum"]

VOCAB_SIZE = 20000  # proper nouns, drawn with Zipf ranks
ZIPF_S = 1.05       # the Zipf exponent
HTML_ONLY = 0.15    # share of pages with text null, so html_to_text runs
ALIASED = 0.3       # share of multi-word entities in the alias dictionary


def _word(rng: random.Random) -> str:
    n = rng.choice((2, 2, 3))
    w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS) for _ in range(n))
    return w.capitalize()


def vocabulary(rng: random.Random, n: int) -> list[str]:
    """n distinct proper nouns: persons (two words), places (one word)
    and organisations (word + org noun), in Zipf rank order."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        kind = rng.random()
        if kind < 0.5:
            name = f"{_word(rng)} {_word(rng)}"
        elif kind < 0.8:
            name = _word(rng)
        else:
            name = f"{_word(rng)} {rng.choice(_ORG_WORDS)}"
        if name.lower() not in seen:
            seen.add(name.lower())
            out.append(name)
    return out


class Zipf:
    """Inverse-CDF sampler over ranks 0..n-1 with P(rank) ~ 1/(rank+1)^ZIPF_S."""

    def __init__(self, n: int):
        import bisect
        import itertools

        w = [1.0 / (r + 1) ** ZIPF_S for r in range(n)]
        self._cdf = list(itertools.accumulate(w))
        self._bisect = bisect.bisect_left

    def __call__(self, rng: random.Random) -> int:
        return self._bisect(self._cdf, rng.random() * self._cdf[-1])


def aliases(vocab: list[str], rng: random.Random) -> dict[str, str]:
    """Alias dictionary for ``ALIASED`` of the multi-word entities: the full
    name and a short surface form (a person's last name, an org's first
    word) -> the canonical name. The first entity to claim a short form
    owns it, so the map is a function."""
    out: dict[str, str] = {}
    for name in vocab:
        parts = name.split()
        if len(parts) < 2 or rng.random() >= ALIASED:
            continue
        short = parts[-1] if parts[1] not in _ORG_WORDS else parts[0]
        out.setdefault(name.lower(), name)
        out.setdefault(short.lower(), name)
    return out


# -- crawl_build --------------------------------------------------------------

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])


def _sentence(rng, vocab, zipf, short_of) -> str:
    def mention():
        name = vocab[zipf(rng)]
        short = short_of.get(name)
        return short if short and rng.random() < 0.4 else name

    aside = (" " + rng.choice(_ASIDES)) if rng.random() < 0.2 else ""
    return f"{mention()}{aside} {rng.choice(RELS)} {mention()}."


def crawl(out_dir: str, seed: int, n_pages: int, n_files: int, n_long: int,
          long_mult: int) -> dict:
    """Write ``n_pages`` pages as ``n_files`` parquet files plus
    ``aliases.json``; ``n_long`` of the pages have ``5 * long_mult``
    sentences. Returns a description with the input byte count."""
    rng = random.Random(f"crawl:{seed}")
    vocab = vocabulary(rng, VOCAB_SIZE)
    alias_map = aliases(vocab, rng)
    short_of = {v: k.capitalize() for k, v in alias_map.items() if k != v.lower()}
    zipf = Zipf(VOCAB_SIZE)
    long_ids = set(rng.sample(range(n_pages), n_long))
    base_ts = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n_pages):
        # long pages have a fixed length, so input size barely varies by seed
        n_sent = 5 * long_mult if i in long_ids else rng.randint(3, 8)
        sents = []
        for _ in range(n_sent):
            sents.append(_sentence(rng, vocab, zipf, short_of))
            if rng.random() < 0.1:
                sents.append(rng.choice(_NOISE))
        text = " ".join(sents)
        html = "<html><body>" + "".join(f"<p>{s}</p>" for s in sents) + "</body></html>"
        text_col = None if rng.random() < HTML_ONLY else text
        rows.append((f"https://crawl.example/{seed}/{i}", base_ts + dt.timedelta(seconds=i),
                     html.encode(), text_col, "en"))
    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    for f in range(n_files):
        part = rows[f::n_files]
        table = pa.Table.from_pylist(
            [dict(zip(PAGES_SCHEMA.names, r)) for r in part], schema=PAGES_SCHEMA
        )
        pq.write_table(table, os.path.join(pages_dir, f"part-{f:04d}.parquet"))
    with open(os.path.join(out_dir, "aliases.json"), "w") as fh:
        json.dump(alias_map, fh, sort_keys=True)
    return {"pages": pages_dir, "aliases": alias_map, "input_bytes": dir_bytes(pages_dir)}


# -- kg_live ---------------------------------------------------------------------

TRIPLES_SCHEMA = pa.schema([
    ("docid", pa.string()), ("subj", pa.int64()), ("rel", pa.string()),
    ("obj", pa.int64()), ("score", pa.float64()),
])
VERTICES_SCHEMA = pa.schema([("entity_id", pa.int64()), ("canonical", pa.string())])


def entity_id(name: str) -> int:
    """Stable signed 64-bit id of a canonical name (the role xxhash64
    plays in the program's own canonicalizer)."""
    return int.from_bytes(hashlib.blake2b(name.encode(), digest_size=8).digest(), "big",
                          signed=True)


def _triples(rng, ids, zipf, docs: range, tag: str) -> pa.Table:
    cols: dict[str, list] = {n: [] for n in TRIPLES_SCHEMA.names}
    for d in docs:
        docid = f"{tag}/{d:08d}"
        for _ in range(rng.randint(2, 8)):
            cols["docid"].append(docid)
            cols["subj"].append(ids[zipf(rng)])
            cols["rel"].append(rng.choice(RELS))
            cols["obj"].append(ids[zipf(rng)])
            cols["score"].append(round(rng.uniform(-2.0, 0.0), 6))
    return pa.Table.from_pydict(cols, schema=TRIPLES_SCHEMA)


def live(out_dir: str, seed: int, base_docs: int, n_batches: int, batch_docs: int) -> dict:
    """Linked, canonicalized triples (entity ids, relation phrases): a base
    table, ``n_batches`` doc-disjoint micro-batches (each docid lives in
    exactly one file), and the vertex labels (entity_id, canonical)."""
    rng = random.Random(f"live:{seed}")
    vocab = vocabulary(rng, VOCAB_SIZE)
    ids = [entity_id(n) for n in vocab]
    zipf = Zipf(VOCAB_SIZE)
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, "base.parquet")
    pq.write_table(_triples(rng, ids, zipf, range(base_docs), f"s{seed}/base"), base)
    batches = []
    for b in range(n_batches):
        path = os.path.join(out_dir, f"batch-{b:03d}.parquet")
        docs = range(b * batch_docs, (b + 1) * batch_docs)
        pq.write_table(_triples(rng, ids, zipf, docs, f"s{seed}/batch"), path)
        batches.append(path)
    vertices = os.path.join(out_dir, "vertices.parquet")
    pq.write_table(pa.Table.from_pydict({"entity_id": ids, "canonical": vocab},
                                        schema=VERTICES_SCHEMA), vertices)
    return {"base": base, "batches": batches, "vertices": vertices,
            "input_bytes": sum(os.path.getsize(p) for p in [base, *batches, vertices])}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
