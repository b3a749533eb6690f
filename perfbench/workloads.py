"""Seeded inputs and planted truth for the benchmark workloads.

Everything here is pure numpy/pandas/pyarrow: the engine only ever sees the
parquet files these functions write. Inputs and truth are cached on disk per
(workload, size, seed) so a repeated run pays generation once, outside every
timer. The text workload samples ``data/documents.parquet``, a copy of the
``sf0.1`` documents table of the engine's test data (5,000 docs).
"""

from __future__ import annotations

import hashlib
import pathlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from simhash_spark import spec
from simhash_spark.config import DEFAULT_CONFIG, PipelineConfig
from simhash_spark.sources.fixtures import _lcs_at_least, make_images_pdf

IMAGE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


# ------------------------------------------------------------------ corpora


def image_corpus(n_rows: int, seed: int) -> pd.DataFrame:
    """The flagship corpus: make_images_pdf's planted clusters (exact,
    caption-edit, pixel and substring variants, one 1% hot caption), no
    image bytes — the pipeline prunes them at the scan anyway."""
    return make_images_pdf(n_rows, seed=seed, with_bytes=False)


DOCUMENTS = pathlib.Path(__file__).resolve().parent / "data" / "documents.parquet"


def text_sample(n_docs: int, seed: int) -> pa.Table:
    """``n_docs`` distinct rows of the documents table, drawn with ``seed``
    and kept in table order."""
    table = pq.read_table(DOCUMENTS)
    rows = np.sort(np.random.default_rng(seed).choice(table.num_rows, n_docs, replace=False))
    return table.take(rows)


# -------------------------------------------------------------------- truth


class _UnionFind:
    def __init__(self, n: int):
        self.parent = np.arange(n)

    def find(self, x: int) -> int:
        p = self.parent
        root = x
        while p[root] != root:
            root = p[root]
        while p[x] != root:
            p[x], x = root, p[x]
        return int(root)

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def labels(self) -> np.ndarray:
        return np.array([self.find(i) for i in range(len(self.parent))])


def _hamming_unions(uf: _UnionFind, idx: np.ndarray, vals: np.ndarray, radius: int) -> None:
    """Union every pair of ``idx`` rows whose 64-bit values lie within
    ``radius`` < 4 bits. Such a pair agrees on at least one of the four
    16-bit blocks, so checking each same-block group exhaustively finds
    every pair without building the all-pairs matrix."""
    if radius >= 4:
        raise ValueError("block grouping is exact only for radius < 4")
    for shift in (0, 16, 32, 48):
        block = (vals >> np.uint64(shift)) & np.uint64(0xFFFF)
        order = np.argsort(block, kind="stable")
        b = block[order]
        starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
        for s, e in zip(starts, np.r_[starts[1:], len(b)]):
            if e - s < 2:
                continue
            members = order[s:e]
            v = vals[members]
            near = np.triu(spec.popcount64(v[:, None] ^ v[None, :]) <= radius, 1)
            for a, c in zip(*np.nonzero(near)):
                uf.union(int(idx[members[a]]), int(idx[members[c]]))


def truth_labels(
    captions: list[str],
    phash: np.ndarray | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> np.ndarray:
    """Planted-truth cluster label (a row index) per row, by the frozen
    duplicate rule of ``sources.fixtures.compute_truth``:

        dup(a,b) := hamming(simhash) <= r with shingles on both sides
                 OR hamming(phash) <= r_p   (image corpora only)
                 OR a shared normalized substring >= L chars

    closed transitively. Unlike compute_truth it never lists pairs: rows
    with an identical caption are united directly (a hot caption shared by
    m rows is C(m,2) pairs), and the caption criteria run over one
    representative per distinct caption."""
    n = len(captions)
    uf = _UnionFind(n)
    first: dict[str, int] = {}
    rep_of = np.empty(n, dtype=np.int64)
    for i, c in enumerate(captions):
        rep_of[i] = first.setdefault(c, i)
    reps = np.array(sorted(first.values()), dtype=np.int64)
    has = {int(r): len(spec.tokenize(captions[r])) > 0 for r in reps}
    norm = {int(r): spec.normalize_for_substring(captions[r]) for r in reps}
    for i in range(n):
        r = int(rep_of[i])
        if r != i and (has[r] or len(norm[r]) >= cfg.substr_min_len):
            uf.union(r, i)

    with_sh = np.array([r for r in reps if has[int(r)]], dtype=np.int64)
    sims = np.array(
        [spec.caption_fingerprint(captions[r], cfg.shingle_k)["simhash"] for r in with_sh],
        dtype=np.uint64,
    )
    _hamming_unions(uf, with_sh, sims, cfg.hamming_radius)
    if phash is not None:
        _hamming_unions(uf, np.arange(n), spec.i64_to_u64(np.asarray(phash, np.int64)), cfg.phash_radius)

    # substring: winnowing anchors are complete for shared runs >= L chars,
    # then every anchor-sharing pair is verified exactly
    docs = [norm[int(r)] for r in reps]
    di, _pos, ah = spec.winnow_anchors_batch(docs, cfg.substr_window, cfg.substr_min_len)
    by_anchor: dict[int, set[int]] = {}
    for d, h in zip(di.tolist(), ah.tolist()):
        by_anchor.setdefault(h, set()).add(d)
    seen: set[tuple[int, int]] = set()
    for group in by_anchor.values():
        g = sorted(group)
        for x in range(len(g)):
            for y in range(x + 1, len(g)):
                a, b = g[x], g[y]
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                if _lcs_at_least(docs[a], docs[b], cfg.substr_min_len):
                    uf.union(int(reps[a]), int(reps[b]))
    return uf.labels()


# --------------------------------------------------------------- disk cache


def _publish(write, path: pathlib.Path) -> None:
    """Write ``path`` through a temp file, so an interrupted run never leaves
    a half-written cache entry."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    write(tmp)
    tmp.replace(path)


def cached_image_input(cache: pathlib.Path, n_rows: int, seed: int) -> tuple[pathlib.Path, pd.DataFrame]:
    """(images dir, truth frame of image_id, label) for one flagship corpus."""
    d = cache / f"images-{n_rows}-{seed}"
    if not (d / "truth.parquet").exists():
        pdf = image_corpus(n_rows, seed)
        table = pa.Table.from_pandas(pdf, schema=IMAGE_SCHEMA, preserve_index=False)
        _publish(lambda t: pq.write_table(table, t), d / "images" / "part-000.parquet")
        truth = pd.DataFrame(
            {"image_id": pdf["image_id"], "label": truth_labels(pdf["caption"].tolist(), pdf["phash"].to_numpy())}
        )
        _publish(lambda t: truth.to_parquet(t, index=False), d / "truth.parquet")
    return d / "images", pd.read_parquet(d / "truth.parquet")


def cached_text_input(cache: pathlib.Path, n_docs: int, seed: int) -> pathlib.Path:
    """Path of one ``text_sample`` written as parquet."""
    path = cache / f"docs-{n_docs}-{seed}" / "documents.parquet"
    if not path.exists():
        _publish(lambda t: pq.write_table(text_sample(n_docs, seed), t), path)
    return path


# ------------------------------------------------------------------- checks


def pair_scores(truth: pd.Series, engine: pd.Series) -> tuple[float, float]:
    """Pair recall and precision of an engine clustering against truth, from
    the truth x engine contingency counts: pairs together in both =
    sum C(n_ij, 2). Both series are cluster labels indexed by row id."""
    df = pd.DataFrame({"t": truth, "e": engine.reindex(truth.index)})

    def pairs(counts: pd.Series) -> int:
        c = counts.to_numpy(np.int64)
        return int((c * (c - 1) // 2).sum())

    both = pairs(df.groupby(["t", "e"]).size())
    t_pairs, e_pairs = pairs(df.groupby("t").size()), pairs(df.groupby("e").size())
    return (both / t_pairs if t_pairs else 1.0, both / e_pairs if e_pairs else 1.0)


def check_clusters(truth: pd.Series, clusters: pd.DataFrame, id_col: str, min_score: float = 0.99) -> dict:
    """Score one run's (id, cluster_id) table. It fails when an input id is
    missing or repeated, an unknown id appears, or recall/precision falls
    under ``min_score`` (BASELINE's dup-pair recall gate)."""
    ids = clusters[id_col].astype(str)
    problems = []
    if ids.duplicated().any():
        problems.append(f"{int(ids.duplicated().sum())} ids labeled twice")
    if set(ids) != set(truth.index):
        problems.append(f"id set differs from the input ({len(set(ids) ^ set(truth.index))} ids)")
    recall, precision = pair_scores(truth, pd.Series(clusters["cluster_id"].astype(str).to_numpy(), index=ids).groupby(level=0).first())
    if recall < min_score:
        problems.append(f"dup_pair_recall {recall:.4f} < {min_score}")
    if precision < min_score:
        problems.append(f"dup_pair_precision {precision:.4f} < {min_score}")
    return {"ok": not problems, "problems": problems, "recall": recall, "precision": precision}


def ids_digest(ids) -> str:
    return hashlib.sha256("\n".join(sorted(str(i) for i in ids)).encode()).hexdigest()[:16]
