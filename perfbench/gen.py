"""Seeded input generators for the workloads, with ground truth.

Every generator is a pure function of its seed and size arguments. It
writes parquet files with pyarrow (no Spark involved), so the program
under test sees only the generated files, and returns the ground truth
the checks compare the program's outputs against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The English stopword list of ``gopher_quality_filter``'s default; every
# generated doc carries two of them, as real text does.
STOPWORDS = ("the", "a", "and", "is", "not", "of", "to", "in")
N_INDUSTRIES = 48
SIZE_NULL_FRAC = 0.02
VOCAB = 20_000


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under ``path``, so a
    scan has one split per file."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)


# --------------------------------------------------------------- panel


@dataclass
class Panel:
    """A firms x trading-days return panel plus quarterly fundamentals,
    as numpy arrays in firm-major order, and the paths they were
    written to."""

    permno: np.ndarray        # (F*D,) int64
    day: np.ndarray           # (F*D,) int (days since epoch)
    ret: np.ndarray           # (F*D,) float64
    mkt: np.ndarray           # (F*D,) float64
    prc: np.ndarray           # (F*D,) float64, positive price index
    size: np.ndarray          # (F*D,) float64 with NaN for nulls
    n_firms: int
    n_days: int
    fund_day: np.ndarray      # (Q,) int, firm-major
    fund_be: np.ndarray       # (Q,) float64
    panel_path: str = ""
    fund_path: str = ""


def make_panel(seed: int, n_firms: int, n_days: int, out_dir: str,
               n_files: int) -> Panel:
    rng = np.random.default_rng([seed, 1])
    days = np.busday_offset("2010-01-04", np.arange(n_days), roll="forward")
    days = days.astype("datetime64[D]").astype(np.int64)
    # t(4) shocks scaled to unit variance: fat tails, like daily returns
    t4 = lambda *shape: rng.standard_t(4, shape) / np.sqrt(2.0)  # noqa: E731
    mkt = 0.0004 + 0.01 * t4(n_days)
    beta = rng.uniform(0.5, 1.5, n_firms)
    ret = beta[:, None] * mkt[None, :] + 0.02 * t4(n_firms, n_days)
    ret = np.maximum(ret, -0.5)
    prc = 10.0 * np.cumprod(1.0 + ret, axis=1)
    size = prc * rng.lognormal(3.0, 1.5, n_firms)[:, None]
    size[rng.random((n_firms, n_days)) < SIZE_NULL_FRAC] = np.nan
    ind = rng.integers(1, N_INDUSTRIES + 1, n_firms)

    permno = np.repeat(np.arange(10001, 10001 + n_firms), n_days)
    day = np.tile(days, n_firms)
    flat = dict(
        permno=permno,
        date=day,
        ret=ret.ravel(),
        mkt=np.tile(mkt, n_firms),
        prc=prc.ravel(),
        size=size.ravel(),
        ind=np.repeat(ind, n_days),
    )
    # quarterly reports, the first one lagging the panel start by up to
    # a quarter, so the as-of merge leaves early rows unmatched
    first = days[0] + rng.integers(0, 91, n_firms)
    n_q = (days[-1] - days[0]) // 91 + 1
    f_day = (first[:, None] + 91 * np.arange(n_q)[None, :]).ravel()
    f_permno = np.repeat(flat["permno"][::n_days], n_q)
    f_be = rng.lognormal(4.0, 1.0, f_day.size)

    order = rng.permutation(permno.size)  # files hold rows unordered
    table = pa.table({
        "permno": pa.array(permno[order], pa.int64()),
        "date": pa.array(day[order].astype(np.int32), pa.date32()),
        "ret": pa.array(flat["ret"][order]),
        "mkt": pa.array(flat["mkt"][order]),
        "prc": pa.array(flat["prc"][order]),
        "size": pa.array(flat["size"][order], from_pandas=True),
        "ind": pa.array(flat["ind"][order], pa.int32()),
    })
    fund = pa.table({
        "permno": pa.array(f_permno, pa.int64()),
        "fdate": pa.array(f_day.astype(np.int32), pa.date32()),
        "be": pa.array(f_be),
    })
    p = Panel(permno, day, flat["ret"], flat["mkt"], flat["prc"],
              flat["size"], n_firms, n_days, f_day, f_be)
    p.panel_path = os.path.join(out_dir, "panel")
    p.fund_path = os.path.join(out_dir, "fund")
    _write(table, p.panel_path, n_files)
    _write(fund, p.fund_path, 1)
    return p


# ----------------------------------------------------------- documents


def _vocab(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """A Zipf(1) vocabulary of ``VOCAB`` distinct lowercase words of 4-9
    letters (the stopwords are added separately)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        n = rng.integers(4, 10, VOCAB)
        chars = rng.choice(letters, (VOCAB, 9))
        words.update("".join(c[:k]) for c, k in zip(chars, n))
    vocab = np.array(sorted(words)[:VOCAB])
    rng.shuffle(vocab)
    p = 1.0 / np.arange(1, VOCAB + 1)
    return vocab, p / p.sum()


class _DocMaker:
    """Draws fresh documents: 60-120 Zipf tokens plus two stopwords,
    with random capitalisation and doubled spaces that normalisation
    removes."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab, self.p = _vocab(rng)

    def fresh(self) -> list[str]:
        rng = self.rng
        toks = list(self.vocab[rng.choice(VOCAB, rng.integers(60, 121), p=self.p)])
        for w in rng.choice(STOPWORDS, 2, replace=False):
            toks.insert(int(rng.integers(0, len(toks) + 1)), str(w))
        return toks

    def extra(self) -> str:
        return str(self.vocab[self.rng.integers(0, VOCAB)])

    def render(self, toks: list[str]) -> str:
        """Surface form of a token list: some tokens capitalised, some
        gaps doubled. Normalises back to ``" ".join(toks)``."""
        rng = self.rng
        caps = rng.random(len(toks)) < 0.1
        gaps = np.where(rng.random(len(toks)) < 0.05, "  ", " ")
        words = [t.capitalize() if c else t for t, c in zip(toks, caps)]
        return "".join(w + g for w, g in zip(words, gaps)).rstrip()


# -------------------------------------------------------------- ingest


@dataclass
class Ingest:
    """Ordered micro-batch files and their ground truth."""

    batch_ids: list[np.ndarray]
    fresh: set[int]            # ids the gate must keep
    path: str = ""
    input_bytes: int = 0


def make_ingest(seed: int, n_batches: int, batch_docs: int, out_dir: str,
                cross_frac: float = 0.2, within_frac: float = 0.1) -> Ingest:
    """Batch 0 is all fresh docs. Every later batch holds fresh docs, a
    ``cross_frac`` share of near-duplicates (one appended token) of
    survivors of earlier batches, and a ``within_frac`` share of
    near-duplicates of its own fresh docs. Ids grow with the batch, so
    every near-duplicate has a larger id than its source."""
    rng = np.random.default_rng([seed, 3])
    mk = _DocMaker(rng)
    path = os.path.join(out_dir, "ingest")
    os.makedirs(path, exist_ok=True)
    kept: list[list[str]] = []
    files, batch_ids = [], []
    fresh = set()
    next_id = 0
    t0 = 1_600_000_000
    for b in range(n_batches):
        n_cross = int(batch_docs * cross_frac) if b else 0
        n_within = int(batch_docs * within_frac) if b else 0
        n_fresh = batch_docs - n_cross - n_within
        new = [mk.fresh() for _ in range(n_fresh)]
        docs = list(new)
        docs += [kept[i] + [mk.extra()] for i in rng.integers(0, len(kept), n_cross)] if n_cross else []
        docs += [new[i] + [mk.extra()] for i in rng.integers(0, n_fresh, n_within)]
        ids = np.arange(next_id, next_id + len(docs), dtype=np.int64)
        fresh.update(ids[:n_fresh].tolist())
        next_id += len(docs)
        kept += new
        order = rng.permutation(len(docs))
        table = pa.table({
            "doc_id": pa.array(ids[order]),
            "text": pa.array([mk.render(docs[i]) for i in order], pa.string()),
        })
        f = os.path.join(path, f"batch-{b:03d}.parquet")
        pq.write_table(table, f)
        # the file source takes files oldest first: pin the order
        os.utime(f, (t0 + b, t0 + b))
        files.append(f)
        batch_ids.append(ids)
    ing = Ingest(batch_ids, fresh, path)
    ing.input_bytes = sum(os.path.getsize(f) for f in files)
    return ing
