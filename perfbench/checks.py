"""Output checks, computed from the parquet the engine wrote.

They read outputs with pyarrow so that checking adds no Spark job to the
run being measured.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pyarrow.parquet as pq

VARIANT = re.compile(r"_v[123]$")


def read_rows(path: str, *cols: str) -> list[tuple]:
    t = pq.read_table(path, columns=list(cols))
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def cluster_map_md5(clusters_dir: str) -> str:
    """md5 of the sorted ``conv_id,cluster_id`` lines of a cluster table."""
    rows = sorted(read_rows(clusters_dir, "conv_id", "cluster_id"))
    return hashlib.md5("\n".join(f"{a},{b}" for a, b in rows).encode()).hexdigest()


def truth_cluster(conv_id: str) -> str:
    """``data.synth.synth_truth``: a variant belongs to its base conversation."""
    return VARIANT.sub("", conv_id)


def _pairs(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


def pairwise_f1(assign: dict[str, str], truth: dict[str, str]) -> dict:
    """Pairwise precision/recall/F1 over every pair of conversations.

    Every pair is labeled by ``truth``, so this is the labeled-pair F1 with
    the candidate set widened to all pairs; it is 1.0 exactly when the two
    partitions are equal.
    """
    if set(assign) != set(truth):
        raise ValueError("assignment and truth cover different conversations")
    tp = _pairs(Counter((assign[c], truth[c]) for c in assign).values())
    pred = _pairs(Counter(assign.values()).values())
    true = _pairs(Counter(truth.values()).values())
    precision = tp / pred if pred else 1.0
    recall = tp / true if true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": pred - tp, "fn": true - tp, "f1": f1}


def rescore_max_error(scored: list[dict], profiles: dict[str, tuple]) -> float:
    """Largest gap between engine scores and the pure-Python reference.

    ``scored`` rows carry ``conv_a``, ``conv_b``, ``jaccard``,
    ``containment`` and ``jw``; ``profiles`` maps a conversation to its
    ``(sh_hash, concat_text)``. Set overlap is recomputed over the hashed
    shingles, Jaro-Winkler with ``functions.similarity.jaro_winkler_py`` on
    the scorer's text prefix. The engine rounds scores to 6 decimals, so
    agreement means a gap of at most 1e-6.
    """
    from addressparser_spark.functions.similarity import jaro_winkler_py
    from addressparser_spark.operators.scoring import TEXT_CAP

    worst = 0.0
    for r in scored:
        (sh_a, text_a), (sh_b, text_b) = profiles[r["conv_a"]], profiles[r["conv_b"]]
        a, b = set(sh_a), set(sh_b)
        inter = len(a & b)
        union = len(a) + len(b) - inter
        small = min(len(a), len(b))
        want = {
            "jaccard": inter / union if union else 1.0,
            "containment": inter / small if small else 1.0,
            "jw": jaro_winkler_py(text_a[:TEXT_CAP], text_b[:TEXT_CAP]),
        }
        worst = max(worst, *(abs(v - r[k]) for k, v in want.items()))
    return worst
