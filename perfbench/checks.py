"""Output checks run after every timed pipeline run.

KG workload: the triples table must equal the REDEN oracle's, compared as a
count plus an order-independent digest of (subj, pred, obj), and the links
need precision and recall >= 0.95 against the gold links.

Curation: the DuckDB oracle does not finish at benchmark sizes, so exact
invariants of the five stage tables are checked instead (see
:func:`curation_problems`).

Each check returns a list of problems; an empty list means the output is
correct. Stage tables are read with pyarrow, so no Spark job runs.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

MIN_PR = 0.95


def triple_digest(triples) -> str:
    """Order-independent digest of an iterable of (subj, pred, obj): the sum
    mod 2**64 of a 64-bit hash per triple, so any single changed, missing or
    duplicated triple changes it."""
    total = 0
    for s, p, o in triples:
        h = hashlib.blake2b(f"{s}\x1f{p}\x1f{o}".encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % 2**64
    return f"{total:016x}"


def read_table(stage_dir: Path, columns: list[str] | None = None):
    """Read a stage checkpoint (plain, hive-bucketed or Spark-bucketed)."""
    return pq.read_table(str(stage_dir), columns=columns)


def triples_problems(out_dir: Path, expected: dict) -> list[str]:
    t = read_table(Path(out_dir) / "triples", ["subj", "pred", "obj"])
    got = zip(*(t.column(c).to_pylist() for c in ("subj", "pred", "obj")))
    n, digest = t.num_rows, triple_digest(got)
    problems = []
    if n != expected["n_triples"]:
        problems.append(f"triples: {n} rows, oracle has {expected['n_triples']}")
    if digest != expected["digest"]:
        problems.append(f"triples: digest {digest} != oracle {expected['digest']}")
    return problems


def gold_pr(links, gold) -> tuple[float, float]:
    """(precision, recall) of links against gold links on the occurrence key.
    A link matches when its chosen URI group contains the gold URI; links
    with no chosen URI and gold rows with no URI (NIL) are not counted."""
    key = ("conv_id", "turn_idx", "occ_idx")
    want = {
        tuple(r[k] for k in key): r["gold_uri"] for r in gold if r["gold_uri"] is not None
    }
    got = {tuple(r[k] for k in key): r["chosen_uris"] for r in links if r["chosen_uris"]}
    n_match = sum(1 for k, uris in got.items() if k in want and want[k] in uris.split(" "))
    return n_match / max(1, len(got)), n_match / max(1, len(want))


def gold_problems(out_dir: Path, data_dir: Path) -> list[str]:
    links = read_table(
        Path(out_dir) / "links", ["conv_id", "turn_idx", "occ_idx", "chosen_uris"]
    ).to_pylist()
    gold = pq.read_table(str(Path(data_dir) / "gold_links.parquet")).to_pylist()
    precision, recall = gold_pr(links, gold)
    problems = []
    if precision < MIN_PR or recall < MIN_PR:
        problems.append(f"links vs gold: precision {precision:.4f} recall {recall:.4f} < {MIN_PR}")
    metrics = read_table(Path(out_dir) / "metrics").to_pylist()
    if len(metrics) != 1 or metrics[0]["nb_mentions"] != len(gold):
        problems.append(f"metrics: expected one row over {len(gold)} gold mentions, got {metrics}")
    return problems


_NON_WORD = re.compile(r"\W+", re.ASCII)


def shingles(text: str | None, n: int = 3) -> set[str]:
    """Word n-gram shingles as ``dedup.word_shingles`` defines them: lowercase,
    non-word runs (Java's ASCII ``\\W``) collapsed to one space, trimmed."""
    words = _NON_WORD.sub(" ", (text or "").lower()).strip().split(" ")
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def curation_problems(
    docs,
    tables: dict,
    threshold: float = 0.5,
    holdout_fraction: float = 0.2,
) -> list[str]:
    """Exact invariants of a curation run.

    ``docs``: the input documents as a list of dicts (doc_id, text, lang).
    ``tables``: stage name -> list of row dicts for pairs, clusters, holdout,
    decontam and packed.

    * every pair has doc_a < doc_b and a recomputed 3-shingle Jaccard >=
      ``threshold``, equal to the reported one (which is rounded to 6 places);
    * clusters cover every doc once; each cluster has exactly one keep and
      ``cluster_size`` equals its member count;
    * each stratum's holdout holds ceil(fraction * n) docs of that stratum;
    * packed holds each doc once, only kept docs, none from the holdout and
      none flagged contaminated.
    """
    problems: list[str] = []
    text = {d["doc_id"]: d["text"] for d in docs}

    pairs = tables["pairs"]
    if not pairs:
        problems.append("pairs: empty, but the corpus plants near-duplicate clusters")
    for p in pairs:
        a, b = p["doc_a"], p["doc_b"]
        sa, sb = shingles(text.get(a)), shingles(text.get(b))
        jac = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if not a < b or jac < threshold or abs(jac - p["jaccard"]) > 5.01e-7:
            problems.append(f"pairs: ({a}, {b}) reports {p['jaccard']}, recomputed {jac}")
            break

    clusters = tables["clusters"]
    ids = Counter(r["doc_id"] for r in clusters)
    if set(ids) != set(text) or max(ids.values(), default=0) != 1:
        problems.append("clusters: not exactly one row per document")
    members = Counter(r["cluster_id"] for r in clusters)
    keeps = Counter(r["cluster_id"] for r in clusters if r["keep"])
    for r in clusters:
        cid = r["cluster_id"]
        if keeps[cid] != 1 or r["cluster_size"] != members[cid]:
            problems.append(
                f"clusters: cluster {cid} has {keeps[cid]} keeps, size {r['cluster_size']} "
                f"for {members[cid]} members"
            )
            break

    n_stratum = Counter(d["lang"] for d in docs)
    lang = {d["doc_id"]: d["lang"] for d in docs}
    holdout = tables["holdout"]
    held = Counter(lang.get(r["doc_id"]) for r in holdout)
    for s, n in n_stratum.items():
        if held[s] != math.ceil(holdout_fraction * n):
            problems.append(f"holdout: stratum {s} holds {held[s]} of {n} docs")
    if len({r["doc_id"] for r in holdout}) != len(holdout):
        problems.append("holdout: duplicate doc_id")

    packed_ids = [r["doc_id"] for r in tables["packed"]]
    packed = set(packed_ids)
    if not packed:
        problems.append("packed: empty")
    if len(packed) != len(packed_ids):
        problems.append("packed: a document is packed more than once")
    if packed & {r["doc_id"] for r in holdout}:
        problems.append("packed: contains holdout documents")
    if packed & {r["doc_id"] for r in tables["decontam"] if r["contaminated"]}:
        problems.append("packed: contains contaminated documents")
    if packed - {r["doc_id"] for r in clusters if r["keep"]}:
        problems.append("packed: contains documents that dedup dropped")
    return problems


CURATION_COLUMNS = {
    "pairs": ["doc_a", "doc_b", "jaccard"],
    "clusters": ["doc_id", "cluster_id", "cluster_size", "keep"],
    "holdout": ["doc_id"],
    "decontam": ["doc_id", "contaminated"],
    "packed": ["doc_id"],
}


def curation_run_problems(out_dir: Path, data_dir: Path) -> list[str]:
    docs = pq.read_table(
        str(Path(data_dir) / "documents.parquet"), columns=["doc_id", "text", "lang"]
    ).to_pylist()
    tables = {
        name: read_table(Path(out_dir) / name, cols).to_pylist()
        for name, cols in CURATION_COLUMNS.items()
    }
    return curation_problems(docs, tables)
