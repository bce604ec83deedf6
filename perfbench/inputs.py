"""Seeded inputs and the exact ground truth the benchmark checks against.

Everything here is a pure function of the workload seed, so two runs with
the same ``--seed`` feed the engine byte-identical parquet. The engine only
ever sees the written parquet; the ground-truth columns stay in this
process.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FILE_COLS = ["repo", "path", "commit", "lang", "content"]

# the shape of the `documents` table that corpus.documents_as_files reads:
# ~300-char docs of random words from a 30-word vocabulary, 5% "<base> dup"
# near copies (also verbatim containments of their base) and a handful of
# exact copies
_DOC_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
_DOC_LANGS = np.array(["en", "en", "de", "es", "fr", "zh"])


def documents(seed: int, n: int) -> pd.DataFrame:
    """``documents`` table (doc_id, text, lang, source, n_chars) with
    planted ``dup`` near copies and exact copies; ``gt_base`` names the
    doc each planted copy was made from (-1 for the rest)."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(8, 97, size=n)
    texts = [" ".join(rng.choice(_DOC_VOCAB, size=k)) for k in n_words]
    base = np.full(n, -1)
    planted = rng.choice(n, size=n // 20 + 8, replace=False)
    copies = set(planted.tolist())
    for j, i in enumerate(planted):
        src = int(rng.integers(0, n))
        while src in copies:
            src = int(rng.integers(0, n))
        base[i] = src
        texts[i] = texts[src] if j < 8 else texts[src] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_DOC_LANGS, size=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "gt_base": base,
    })


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def split_epochs(seed: int, n: int, n_history: int, n_epochs: int
                 ) -> list[np.ndarray]:
    """Row indices of the history file followed by each epoch file.

    Rows are placed by a seeded hash of their index, not by index: the
    corpus lays its planted regions out contiguously, so an index split
    would put whole regions (all exact copies, the skew group) in one
    file."""
    keys = np.array([int.from_bytes(hashlib.blake2b(
        f"{seed}:{i}".encode(), digest_size=8).digest(), "little")
        for i in range(n)], dtype=np.uint64)
    order = np.argsort(keys, kind="stable")
    per_epoch = (n - n_history) // n_epochs
    cuts = [0, n_history] + [n_history + (e + 1) * per_epoch
                             for e in range(n_epochs)]
    return [np.sort(order[a:b]) for a, b in zip(cuts, cuts[1:])]


def _shingles(text: str, k: int) -> frozenset:
    """Byte k-grams of whitespace-collapsed text; a text shorter than k
    is its own single shingle (the engine's definition, reimplemented
    here from the spec so the truth never depends on engine code)."""
    b = " ".join(text.split()).encode("utf-8")
    if len(b) < k:
        return frozenset([b]) if b else frozenset()
    return frozenset(b[i:i + k] for i in range(len(b) - k + 1))


def jaccard_distance(a: str, b: str, k: int) -> float:
    sa, sb = _shingles(a, k), _shingles(b, k)
    if not sa and not sb:
        return 0.0
    return 1.0 - len(sa & sb) / len(sa | sb)


def is_contained(small: str, big: str, min_chars: int) -> bool:
    s, b = " ".join(small.split()), " ".join(big.split())
    return len(small) >= min_chars and len(s) < len(b) and s in b


def document_pairs(docs: pd.DataFrame) -> list[tuple]:
    """(kind, repo_a, path_a, repo_b, path_b, text_a, text_b) for every
    planted copy of a ``documents`` table, keyed the way
    ``corpus.documents_as_files`` names the files."""
    rows = []
    for copy, src in zip(docs["doc_id"], docs["gt_base"]):
        if src < 0:
            continue
        a, b = docs.at[src, "text"], docs.at[copy, "text"]
        rows.append(("exact" if a == b else "near",
                     docs.at[src, "source"], f"docs/{src}.txt",
                     docs.at[copy, "source"], f"docs/{copy}.txt", a, b))
    return rows


def corpus_pairs(gt: pd.DataFrame) -> list[tuple]:
    """The same rows for a ``corpus_df`` ground truth: member-to-root
    pairs, n-1 per planted group (so the skew group does not swamp the
    rest). ``gt`` needs repo, path, content, gt_kind, gt_group,
    gt_member."""
    g = gt[~gt["gt_kind"].isin(["invalid", "singleton"])]
    roots = g[g["gt_member"] == 0].set_index("gt_group")
    return [(r.gt_kind, roots.at[r.gt_group, "repo"],
             roots.at[r.gt_group, "path"], r.repo, r.path,
             roots.at[r.gt_group, "content"], r.content)
            for r in g[g["gt_member"] > 0].itertuples(index=False)
            if r.gt_group in roots.index]


def truth_table(pairs: list[tuple], cfg) -> pd.DataFrame:
    """Planted pairs with ``truth`` set when the pair meets the configured
    predicate exactly: byte-identical, shingle-Jaccard distance <=
    ``cfg.threshold``, or verbatim containment when containment is on."""
    rows = []
    for kind, ra, pa_, rb, pb, a, b in pairs:
        truth = a == b or jaccard_distance(a, b, cfg.shingle_k) \
            <= cfg.threshold
        if not truth and cfg.containment:
            small, big = sorted((a, b), key=len)
            truth = is_contained(small, big, cfg.min_contain_chars)
        rows.append((kind, ra, pa_, rb, pb, truth))
    return pd.DataFrame(rows, columns=["kind", "repo_a", "path_a",
                                       "repo_b", "path_b", "truth"])


def recall(pairs: pd.DataFrame, cluster_of: dict) -> tuple[float, dict]:
    """(overall recall over the truth set, per-kind breakdown).

    ``cluster_of`` maps (repo, path) -> cluster id for matched files. A
    pair is recalled when both ends carry the same cluster id. Per kind
    the breakdown also counts planted pairs outside the truth set that
    linked anyway, so chain pairs (true distance above the threshold)
    stay visible instead of silently dropping out."""
    linked = np.array([
        cluster_of.get((a, b)) is not None
        and cluster_of.get((a, b)) == cluster_of.get((c, d))
        for a, b, c, d in zip(pairs["repo_a"], pairs["path_a"],
                              pairs["repo_b"], pairs["path_b"])], dtype=bool)
    truth = pairs["truth"].to_numpy(dtype=bool)
    kinds = {}
    for kind in sorted(pairs["kind"].unique()):
        m = pairs["kind"].to_numpy() == kind
        kinds[kind] = {"truth": int((m & truth).sum()),
                       "recalled": int((m & truth & linked).sum()),
                       "planted": int(m.sum()),
                       "linked_outside_truth": int((m & ~truth & linked).sum())}
    n_truth = int(truth.sum())
    overall = (float((truth & linked).sum()) / n_truth) if n_truth else 1.0
    return overall, kinds
