"""Print the shape of a documents table: the figures ``gen.documents``
reproduces, side by side for a fixture table and the generator.

    python3 perfbench/profile_docs.py path/to/documents.parquet
    python3 perfbench/profile_docs.py --generate 1 15000
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import Counter

import gen


def profile(rows: list[dict]) -> dict:
    n = len(rows)
    texts = [r["text"] for r in rows]
    mark = f" {gen.NEAR_DUP_MARK}"
    near = [t for t in texts if t.endswith(mark)]
    base_tokens = [len(t.removesuffix(mark).split()) for t in texts]
    words = Counter(w for t in texts for w in t.removesuffix(mark).split())
    copies = Counter(texts)
    langs = Counter(r["lang"] for r in rows)
    chars = statistics.quantiles([len(t) for t in texts], n=10)
    return {
        "docs": n,
        "tokens_min_max": [min(base_tokens), max(base_tokens)],
        "tokens_mean": round(statistics.fmean(base_tokens), 2),
        "n_chars_p10_p50_p90": [round(chars[0]), round(chars[4]), round(chars[8])],
        "vocabulary": len(words),
        "top_word_share": round(words.most_common(1)[0][1] / sum(words.values()), 4),
        "near_dup_share": round(len(near) / n, 4),
        "near_dup_with_base_share": round(
            sum(1 for t in near if copies[t.removesuffix(mark)]) / max(len(near), 1), 4
        ),
        "exact_dup_share": round(sum(c - 1 for c in copies.values()) / n, 4),
        "lang_shares": {k: round(v / n, 4) for k, v in sorted(langs.items())},
        "source_is_doc_id_mod_20": all(r["source"] == f"src{r['doc_id'] % 20}" for r in rows),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("path", nargs="?", help="a documents parquet file")
    ap.add_argument("--generate", nargs=2, type=int, metavar=("SEED", "N"))
    args = ap.parse_args(argv)
    if args.generate:
        rows = gen.documents(*args.generate)
    elif args.path:
        import pyarrow.parquet as pq

        rows = pq.read_table(args.path).to_pylist()
    else:
        ap.error("give a parquet path or --generate SEED N")
    print(json.dumps(profile(rows), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
