"""Seeded input generators for perfbench.

The same seed gives the same files. The library under test only ever sees
what is written here.
"""

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def trading_dates(n):
    """`n` weekdays from 2024-01-01: the simulated trading calendar."""
    out, d = [], datetime.date(2024, 1, 1)
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += datetime.timedelta(days=1)
    return out


def market(seed, tickers, n_dates, out_dir):
    """Daily closes for `tickers` tickers over `n_dates` trading dates, and
    the `(ticker, shares_outstanding)` dimension.

    Each ticker follows a seasonal path with noise, so the top-K by market
    cap changes from day to day. About one ticker-day in a thousand carries
    a 2:1 or 3:1 split.
    """
    rng = np.random.default_rng([seed, 1])
    dates = trading_dates(n_dates)
    base = 5.0 + 400.0 * rng.random(tickers) ** 2
    phase = 6.283 * rng.random(tickers)
    d = np.arange(n_dates)
    close = (base[:, None] * (1.0 + 0.3 * np.sin(d[None, :] / 12.0 + phase[:, None])) *
             (0.98 + 0.04 * rng.random((tickers, n_dates))))
    split = np.where(rng.random((tickers, n_dates)) < 0.001,
                     np.where(rng.random((tickers, n_dates)) < 0.7, 2.0, 3.0), 0.0)
    names = [f"T{t:05d}" for t in range(tickers)]
    os.makedirs(out_dir, exist_ok=True)
    # date-major, as a daily feed arrives
    pq.write_table(pa.table({
        "ticker": pa.array([names[t] for _ in range(n_dates) for t in range(tickers)]),
        "date": pa.array([dt for dt in dates for _ in range(tickers)], pa.date32()),
        "close": pa.array(close.T.reshape(-1)),
        "stock_splits": pa.array(split.T.reshape(-1)),
    }), os.path.join(out_dir, "prices.parquet"))
    pq.write_table(pa.table({
        "ticker": pa.array(names),
        "shares_outstanding": pa.array(
            1_000_000 * (1 + rng.integers(0, 5000, tickers)), pa.int64()),
    }), os.path.join(out_dir, "shares.parquet"))


# The reference corpus draws its tokens uniformly from these words (two
# stopwords and one short token among them).
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()

# The two boilerplate texts of the library's `dupheavy` edge corpus
# (graft.EdgeCorpus), copied so the benchmark's inputs stay fixed when
# that generator changes.
BOILER_A = (
    "subscribe today for unlimited digital access enjoy exclusive member "
    "benefits including breaking news alerts premium newsletters live sports "
    "coverage puzzles games cooking recipes expert reviews cancel anytime "
    "manage your subscription preferences from your account settings page "
    "contact customer support seven days every week for assistance with "
    "billing delivery questions feedback")
BOILER_B = (
    "cookies help this website deliver personalized content measure "
    "advertising performance analyze traffic patterns remember visitor "
    "preferences across sessions clicking accept means consent for processing "
    "browsing data according privacy policy terms conditions visitors adjust "
    "tracking choices anytime under settings consent banner without losing "
    "access basic site functionality features")


def documents(seed, n, out_dir, dupheavy=False):
    """A `documents` table shaped like the reference corpus: 10-100 tokens
    per doc, 5 % near-duplicates (another doc's text plus " dup"), 1 %
    exact copies, five languages and twenty sources.

    With `dupheavy`, the edge corpus of the same name: docs with
    doc_id % 10 in {0, 1, 2} carry one boilerplate text and % 10 == 3 a
    second, so 40 % of the corpus falls into two duplicate clusters.
    """
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lens]
    kind = rng.integers(0, 100, n)
    src = rng.integers(0, n, n)
    for i in range(n):
        if kind[i] < 6 and src[i] != i:
            texts[i] = texts[src[i]] + (" dup" if kind[i] < 5 else "")
    if dupheavy:
        for i in range(n):
            if i % 10 < 3:
                texts[i] = BOILER_A
            elif i % 10 == 3:
                texts[i] = BOILER_B
    lang = np.array(["en", "zh", "de", "es", "fr"])[
        np.searchsorted([0.41, 0.56, 0.70, 0.85], rng.random(n), side="right")]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
