"""Seeded, cached input corpora for the benchmark workloads.

Each corpus is generated once per (workload, size, seed, generator version)
under the benchmark's work directory and reused by later runs with the same
key. A corpus directory is complete only when its ``_DONE`` marker exists, so
an interrupted generation is redone instead of read. Generation runs in pure
Python and pyarrow: it never starts a JVM, so a cache miss cannot warm the
JVM that is measured afterwards.

* KG corpus (``kg_full``): ``reden_spark.datagen`` in the
  shape of the ``bench.py`` corpus -- 200 turns per conversation, 4
  sentences per turn, 2000 extra dictionary entities (~25 k aliases) and one
  20x mega-conversation; lengths are fixed so that every seed gives the
  same number of turns. Transcripts are stored as a conv_id-bucketed table
  (the ingest-time layout the pipeline reads in production), written here
  with Spark's own bucket function. The corpus carries gold links, so the
  pipeline's ``metrics`` stage runs too.
  ``expected.json`` holds the REDEN oracle's triple count and digest.
* Curation corpus: the ``bench.py:ensure_curation_bench_data`` shape -- a
  50-word template per doc plus a 2-word per-doc tail, and planted
  10-document near-duplicate clusters covering 1 % of the docs -- drawn from
  a seeded generator.
"""

from __future__ import annotations

import json
import random
import shutil
import time
import uuid
from pathlib import Path
from types import SimpleNamespace
from unittest import mock

GEN_VERSION = 4

KG_SHAPE = {
    "mean_turns": 200,
    "sentences_per_turn": 4,
    "n_extra_entities": 2000,
    "skew_factor": 20,
}
KG_BUCKETS = 8
CUR_CLUSTER_SIZE = 10
CUR_DUP_SHARE = 0.01
CUR_WORDS = 50
CUR_VOCAB = 50_000
CUR_FILES = 8
CUR_LANGS = ("en", "fr", "de", "es", "it")

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix(h1: int, k1: int) -> int:
    k1 = (_rotl((k1 * 0xCC9E2D51) & _M32, 15) * 0x1B873593) & _M32
    return (_rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def spark_string_hash(s: str, seed: int = 42) -> int:
    """Spark's ``hash()`` (Murmur3Hash) of a string column value: Murmur3
    x86_32 over 4-byte little-endian words, then one round per trailing
    signed byte (Spark's ``hashUnsafeBytes``), as a signed 32-bit int."""
    b = s.encode()
    aligned = len(b) - len(b) % 4
    h1 = seed
    for i in range(0, aligned, 4):
        h1 = _mix(h1, int.from_bytes(b[i : i + 4], "little"))
    for byte in b[aligned:]:
        h1 = _mix(h1, (byte - 256 if byte > 127 else byte) & _M32)
    h1 ^= len(b)
    h1 = ((h1 ^ (h1 >> 16)) * 0x85EBCA6B) & _M32
    h1 = ((h1 ^ (h1 >> 13)) * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 & 0x80000000 else h1


def spark_bucket(s: str, n: int) -> int:
    """Bucket id Spark's ``bucketBy(n, col)`` gives a string value."""
    return spark_string_hash(s) % n


_SPARK_TYPES = {"string": "string", "int32": "integer", "int64": "long", "double": "double"}


def _spark_schema(schema) -> dict:
    def spark_type(t) -> str:
        name = str(t)
        return "timestamp" if name.startswith("timestamp") else _SPARK_TYPES[name]

    return {
        "type": "struct",
        "fields": [
            {"name": f.name, "type": spark_type(f.type), "nullable": True, "metadata": {}}
            for f in schema
        ],
    }


def write_bucketed(table, out: Path, col: str, n: int) -> None:
    """Write ``table`` as the Spark-bucketed checkpoint layout that
    ``reden_spark.sources.storage`` reads: one file per bucket named with
    Spark's ``_NNNNN`` bucket suffix, plus the stage manifest."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from reden_spark.sources.storage import MANIFEST

    out.mkdir(parents=True)
    ids = pa.array([spark_bucket(v, n) for v in table.column(col).to_pylist()])
    job = uuid.UUID(int=random.Random(n).getrandbits(128))
    lineage = []
    for b in range(n):
        part = table.filter(pc.equal(ids, b))
        if part.num_rows:
            pq.write_table(part, out / f"part-{b:05d}-{job}_{b:05d}.c000.zstd.parquet", compression="zstd")
            lineage.append({"part": str(b), "rows": part.num_rows})
    manifest = {
        "stage": out.name,
        "rows": table.num_rows,
        "schema": _spark_schema(table.schema),
        "lineage": lineage,
        "written_at": time.time(),
        "format": "parquet",
        "bucketed": False,
        "spark_bucketed": {"col": col, "n": n},
    }
    (out / MANIFEST).write_text(json.dumps(manifest))


class _FixedLengthRandom(random.Random):
    """``random.Random`` whose ``gauss`` returns its mean. ``datagen`` draws
    only conversation lengths from ``gauss``, so with it every conversation
    has exactly ``mean_turns`` turns (the mega-conversation ``skew_factor``
    times that) while the text still varies with the seed: the corpus size,
    and so the work, is the same for every seed."""

    def gauss(self, mu=0.0, sigma=1.0):
        return mu


def _done(d: Path) -> bool:
    return (d / "_DONE").exists()


def _fresh(d: Path) -> Path:
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    return tmp


def _commit(tmp: Path, d: Path) -> Path:
    (tmp / "_DONE").write_text("")
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d


def kg_corpus(d: Path, seed: int, n_convs: int) -> Path:
    """One seeded corpus with gold links: transcripts bucketed on conv_id,
    the dictionary and KB tables, and ``expected.json`` with the oracle's
    triple count and digest (gold links do not change the triples)."""
    import pyarrow.parquet as pq

    from reden_spark import datagen

    if _done(d):
        return d
    tmp = _fresh(d)
    with mock.patch.object(datagen, "random", SimpleNamespace(Random=_FixedLengthRandom)):
        datagen.generate(tmp, n_convs=n_convs, seed=seed, with_gold=True, **KG_SHAPE)
    raw = tmp / "transcripts.parquet"
    table = pq.read_table(str(raw))
    raw.unlink()
    write_bucketed(table, raw, "conv_id", KG_BUCKETS)
    (tmp / "expected.json").write_text(json.dumps(kg_expected(tmp)))
    return _commit(tmp, d)


def kg_expected(data_dir: Path) -> dict:
    """Oracle triples of a KG corpus, reduced to count + order-free digest."""
    import pyarrow.parquet as pq

    from reden_spark import datagen, oracle

    from .checks import triple_digest

    def rows(name: str) -> list[dict]:
        return pq.read_table(str(data_dir / f"{name}.parquet")).to_pylist()

    transcripts = pq.read_table(
        str(data_dir / "transcripts.parquet"), columns=["conv_id", "turn_idx", "text"]
    ).to_pylist()
    dico = rows("dico")
    kb = [(r["subj"], r["pred"], r["obj"]) for r in rows("kb_edges")]
    links = oracle.run_oracle(
        transcripts,
        dico,
        [r["term"] for r in rows("mention_terms")],
        kb,
        [(r["pred"], r["weight"]) for r in rows("rel_weights")],
        datagen.BASE_PREFIX,
        datagen.BASE_PREFIX,
    )
    triples = oracle.links_to_triples(links, kb, dico)
    return {
        "n_turns": len(transcripts),
        "n_links": len(links),
        "n_triples": len(triples),
        "digest": triple_digest(triples),
    }


def curation_corpus(d: Path, seed: int, n_docs: int) -> Path:
    """``documents.parquet`` (doc_id, text, lang, source, n_chars): docs below
    ``n_dup`` come in clusters of 10 sharing one 50-word template; every doc
    ends in its own 2-word tail, so cluster members are near-duplicates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if _done(d):
        return d
    tmp = _fresh(d)
    rng = random.Random(seed)
    n_dup = max(1, int(n_docs * CUR_DUP_SHARE) // CUR_CLUSTER_SIZE) * CUR_CLUSTER_SIZE

    def words(k: int) -> str:
        return " ".join(f"w{rng.randrange(CUR_VOCAB)}" for _ in range(k))

    texts, template = [], ""
    for doc_id in range(n_docs):
        if doc_id >= n_dup or doc_id % CUR_CLUSTER_SIZE == 0:
            template = words(CUR_WORDS)
        tail = f" t{rng.randrange(CUR_VOCAB)} t{rng.randrange(CUR_VOCAB)}"
        texts.append(template + tail)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [CUR_LANGS[rng.randrange(len(CUR_LANGS))] for _ in range(n_docs)],
            "source": ["synthetic"] * n_docs,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    out = tmp / "documents.parquet"
    out.mkdir()
    # shuffled file membership, as a real corpus would not arrive sorted by cluster
    order = list(range(n_docs))
    rng.shuffle(order)
    step = -(-n_docs // CUR_FILES)
    for i in range(CUR_FILES):
        part = docs.take(pa.array(sorted(order[i * step : (i + 1) * step])))
        pq.write_table(part, out / f"part-{i:05d}.parquet")
    (tmp / "expected.json").write_text(json.dumps({"n_docs": n_docs, "n_dup": n_dup}))
    return _commit(tmp, d)
