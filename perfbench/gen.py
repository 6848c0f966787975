"""Seeded input generators. Every input a workload feeds the program is
a pure function of ``(seed, size)``; the program sees only the files or
HTTP bodies produced here."""

from __future__ import annotations

import json
import random

PRIORITIES = ("HIGH", "MEDIUM", "LOW")
BATCH_SIZE = 3

IDS_ERROR = json.dumps(
    {"error": "Invalid input: ids array is required and cannot be empty."},
    separators=(",", ":"),
)
PRIORITY_ERROR = json.dumps(
    {"error": "Invalid input: priority is required and must be HIGH, MEDIUM, or LOW."},
    separators=(",", ":"),
)
NOT_FOUND = json.dumps({"error": "Ingestion ID not found."}, separators=(",", ":"))


def chunks(ids: list[int]) -> list[list[int]]:
    return [ids[i : i + BATCH_SIZE] for i in range(0, len(ids), BATCH_SIZE)]


def completed_doc(rid: str, ids: list[int]) -> str:
    """The exact final ``GET /ingest/status/:id`` body of a request whose
    batches have all drained."""
    return json.dumps(
        {
            "ingestion_id": rid,
            "status": "completed",
            "batches": [
                {"batch_id": f"{rid}-{i}", "ids": c, "status": "completed"}
                for i, c in enumerate(chunks(ids))
            ],
        },
        separators=(",", ":"),
    )


# -- api_mixed: one seeded op stream per client ---------------------------

_INVALID = (
    ('{"priority":"HIGH"}', IDS_ERROR),
    ('{"ids":[],"priority":"LOW"}', IDS_ERROR),
    ("not json", IDS_ERROR),
    ('{"ids":[4,5],"priority":"URGENT"}', PRIORITY_ERROR),
    ('{"ids":[7]}', PRIORITY_ERROR),
)


def api_ops(seed: int, client: int):
    """Endless op stream for one closed-loop client. Each op is
    ``("post", body, expected_400_or_None, ids)`` or
    ``("unknown", request_id, NOT_FOUND, None)``. The mix is fixed (one
    invalid POST and one unknown-id read in every ten ops) so that runs
    differ only in the seeded bodies, not in what share of work they do."""
    rng = random.Random(f"api:{seed}:{client}")
    k = 0
    while True:
        k += 1
        if k % 10 == 3:
            body, expect = _INVALID[rng.randrange(len(_INVALID))]
            yield ("post", body, expect, None)
        elif k % 10 == 7:
            yield ("unknown", f"nope-{rng.getrandbits(64):016x}", NOT_FOUND, None)
        else:
            ids = [rng.randrange(1, 10_000) for _ in range(rng.randint(1, 9))]
            prio = PRIORITIES[rng.randrange(3)]
            if rng.random() < 0.2:
                prio = prio.lower()  # accepted case-insensitively
            yield ("post", json.dumps({"ids": ids, "priority": prio}), None, ids)


# -- curation_batch: seeded documents table ---------------------------------
#
# The shape is measured on the fixture documents tables (sf0.001, sf0.01
# and sf0.1 share it; ``profile_docs.py`` prints the figures for any
# table): 10-99 tokens drawn uniformly from 30 words; 5% of documents
# are a near duplicate, another document's text with " dup" appended
# (so exact duplicates arise where two of them copy the same document);
# ``source`` is ``src{doc_id % 20}``; ``lang`` is drawn with sf0.1's
# shares.

WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
TOKENS = (10, 99)
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MARK = "dup"
LANGS = (("de", 702), ("en", 2059), ("es", 744), ("fr", 742), ("zh", 753))  # sf0.1 counts


def documents(seed: int, n_docs: int) -> list[dict]:
    """``documents(doc_id, text, lang, source, n_chars)`` with the
    fixture tables' shape (see above), ``n_docs`` rows."""
    rng = random.Random(f"docs:{seed}")
    langs, lw = zip(*LANGS)
    texts = [
        " ".join(rng.choices(WORDS, k=rng.randint(*TOKENS))) for _ in range(n_docs)
    ]
    n_near = round(n_docs * NEAR_DUP_SHARE)
    near = rng.sample(range(n_docs), n_near)
    bases = sorted(set(range(n_docs)) - set(near))
    for i in near:
        texts[i] = f"{texts[rng.choice(bases)]} {NEAR_DUP_MARK}"
    return [
        {
            "doc_id": i,
            "text": t,
            "lang": rng.choices(langs, lw)[0],
            "source": f"src{i % 20}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]
