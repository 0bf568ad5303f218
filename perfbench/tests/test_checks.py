"""Output checks: the triple digest, gold precision/recall and the curation
invariants on small hand-made tables."""

import copy

from perfbench import checks

TRIPLES = [
    ("urn:mention:c1:0:0", "linksTo", "http://kb/a"),
    ("urn:mention:c1:0:1", "linksTo", "http://kb/b"),
    ("http://kb/a", "knows", "http://kb/b"),
]


def test_digest_is_order_independent():
    assert checks.triple_digest(TRIPLES) == checks.triple_digest(list(reversed(TRIPLES)))


def test_digest_rejects_a_single_changed_triple():
    want = checks.triple_digest(TRIPLES)
    for i in range(len(TRIPLES)):
        for j in range(3):
            changed = [list(t) for t in TRIPLES]
            changed[i][j] += "x"
            assert checks.triple_digest(map(tuple, changed)) != want


def test_digest_rejects_a_duplicated_or_missing_triple():
    want = checks.triple_digest(TRIPLES)
    assert checks.triple_digest(TRIPLES + TRIPLES[:1]) != want
    assert checks.triple_digest(TRIPLES[1:]) != want


def test_gold_precision_recall():
    gold = [
        {"conv_id": "c", "turn_idx": 0, "occ_idx": 0, "gold_uri": "u1"},
        {"conv_id": "c", "turn_idx": 0, "occ_idx": 1, "gold_uri": "u2"},
        {"conv_id": "c", "turn_idx": 1, "occ_idx": 0, "gold_uri": None},  # NIL
    ]
    links = [
        {"conv_id": "c", "turn_idx": 0, "occ_idx": 0, "chosen_uris": "u0 u1"},
        {"conv_id": "c", "turn_idx": 0, "occ_idx": 1, "chosen_uris": "u3"},
        {"conv_id": "c", "turn_idx": 1, "occ_idx": 0, "chosen_uris": ""},
    ]
    assert checks.gold_pr(links, gold) == (0.5, 0.5)


def _curation_case():
    base = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = [
        {"doc_id": 1, "text": base + " t1", "lang": "en"},
        {"doc_id": 2, "text": base + " t2", "lang": "en"},
        {"doc_id": 3, "text": "a b c d e", "lang": "en"},
        {"doc_id": 4, "text": "f g h i j", "lang": "fr"},
        {"doc_id": 5, "text": "k l m n o", "lang": "fr"},
    ]
    jac = len(checks.shingles(docs[0]["text"]) & checks.shingles(docs[1]["text"])) / len(
        checks.shingles(docs[0]["text"]) | checks.shingles(docs[1]["text"])
    )
    tables = {
        "pairs": [{"doc_a": 1, "doc_b": 2, "jaccard": round(jac, 6)}],
        "clusters": [
            {"doc_id": 1, "cluster_id": 1, "cluster_size": 2, "keep": True},
            {"doc_id": 2, "cluster_id": 1, "cluster_size": 2, "keep": False},
            {"doc_id": 3, "cluster_id": 3, "cluster_size": 1, "keep": True},
            {"doc_id": 4, "cluster_id": 4, "cluster_size": 1, "keep": True},
            {"doc_id": 5, "cluster_id": 5, "cluster_size": 1, "keep": True},
        ],
        # ceil(0.2 * 3) = 1 of 'en', ceil(0.2 * 2) = 1 of 'fr'
        "holdout": [{"doc_id": 3}, {"doc_id": 4}],
        "decontam": [{"doc_id": 1, "contaminated": False}, {"doc_id": 5, "contaminated": True}],
        "packed": [{"doc_id": 1}],
    }
    return docs, tables


def test_curation_invariants_accept_consistent_output():
    docs, tables = _curation_case()
    assert checks.curation_problems(docs, tables) == []


def test_curation_invariants_reject_each_violation():
    docs, good = _curation_case()
    cases = {
        "pairs": lambda t: t["pairs"][0].update(jaccard=0.9),
        "clusters": lambda t: t["clusters"][1].update(keep=True),
        "cluster_size": lambda t: t["clusters"][0].update(cluster_size=3),
        "holdout": lambda t: t["holdout"].pop(),
        "packed holdout": lambda t: t["packed"].append({"doc_id": 3}),
        "packed twice": lambda t: t["packed"].append({"doc_id": 1}),
        "packed contaminated": lambda t: t["packed"].append({"doc_id": 5}),
        "packed dropped": lambda t: t["packed"].append({"doc_id": 2}),
    }
    for name, perturb in cases.items():
        tables = copy.deepcopy(good)
        perturb(tables)
        assert checks.curation_problems(docs, tables), name
