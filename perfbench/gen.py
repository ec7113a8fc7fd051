"""Seeded inputs and their oracles.

Every generator is a pure function of the benchmark seed (and a day,
tick or doc index), so the same seed gives the same inputs on every
run.  The program under test only ever sees the generated frames.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa

from logtrics_spark.datagen import gen_batch, gen_record_batch
from logtrics_spark.operators.extract import EPOCH_START

# token payload per row: the rollup path prunes `tokens` out of every
# scan, so the payload only costs ingest bytes, not measured work
TOKEN_CAP = 16
EPOCH = dt.datetime.fromisoformat(EPOCH_START)


# ------------------------------------------------------------ token table
def day_str(day: int) -> str:
    return (EPOCH + dt.timedelta(days=day)).strftime("%Y-%m-%d")


def token_days(seed: int, step_s: int, first_day: int, n_days: int, path) -> int:
    """Write token-table rows whose doc_id-derived timestamps fall on
    ``n_days`` whole days from ``first_day`` (``step_s`` seconds apart)
    as one landing parquet file; returns the row count."""
    import pyarrow.parquet as pq

    per_day = 86_400 // step_s
    ids = np.arange(first_day * per_day, (first_day + n_days) * per_day, dtype=np.int64)
    batch = gen_record_batch(ids, seed=seed, token_cap=TOKEN_CAP)
    pq.write_table(pa.Table.from_batches([batch]), str(path))
    return batch.num_rows


def day_oracle(seed: int, step_s: int, first_day: int, n_days: int) -> pd.DataFrame:
    """NumPy oracle of the 1d tier: docs and sum(n_tok) per (source, day)."""
    per_day = 86_400 // step_s
    ids = np.arange(first_day * per_day, (first_day + n_days) * per_day, dtype=np.int64)
    b = gen_batch(ids, seed=seed, token_cap=1)
    b["day"] = [day_str(int(d)) for d in (ids * step_s) // 86_400]
    return (
        b.groupby(["source", "day"])
        .agg(docs=("n_tok", "size"), n_tok=("n_tok", "sum"))
        .reset_index()
    )


# -------------------------------------------------------------- log lines
HOSTS = ["app1", "app2", "app3"]
PATHS = ["/api/users", "/api/orders", "/static/app.js", "/health", "/api/search"]
# line kinds: request, error, queue gauge, noise (matches no rule)
KIND_P = [0.55, 0.10, 0.15, 0.20]


def tick_lines(seed: int, tick: int, n: int, tick_s: int = 60) -> pd.DataFrame:
    """One tick's lines: event times cover minute ``tick`` exactly, so
    each tick fills its own 1m window per host."""
    rng = np.random.default_rng([seed, tick])
    kind = rng.choice(4, size=n, p=KIND_P)
    host = rng.integers(0, len(HOSTS), size=n)
    path = rng.integers(0, len(PATHS), size=n)
    status = rng.choice([200, 200, 200, 404, 500], size=n)
    ms = rng.integers(1, 900, size=n)
    depth = rng.integers(0, 5000, size=n)
    code = rng.integers(100, 999, size=n)
    lines = []
    for k, p, s, m, d, c in zip(kind, path, status, ms, depth, code):
        if k == 0:
            lines.append(f"GET {PATHS[p]} {s} {m}ms")
        elif k == 1:
            lines.append(f"ERROR E{c} upstream failed")
        elif k == 2:
            lines.append(f"worker stats queue={d} ok")
        else:
            lines.append(f"debug heartbeat seq={d}")
    offs = np.sort(rng.integers(0, tick_s * 1000, size=n))
    ts = pd.Timestamp(EPOCH) + pd.to_timedelta(tick * tick_s * 1000 + offs, unit="ms")
    return pd.DataFrame(
        {
            "source": np.array(HOSTS, dtype=object)[host],
            "line": lines,
            "ts": ts,
            "_kind": kind,
            "_ms": ms,
            "_depth": depth,
        }
    )


# ----------------------------------------------------------------- corpus
# A fixed resample (4,000 rows, texts that occur once) of the documents
# table the repository's curation tests read.  Every seed takes all of
# it and plants the duplicates; the seed picks which docs get them and
# the doc order.  ``has_twin`` marks the docs with a natural near
# duplicate in the resample (word 5-shingle Jaccard >= 0.3): near-dup
# removal may keep the twin instead, so duplicates are planted in the
# others, and every seed has the same duplicate structure to resolve.
DOCUMENTS = Path(__file__).resolve().parent / "data" / "documents.parquet"
NEAR_MIN_WORDS = 40


def corpus(seed: int) -> tuple[pd.DataFrame, dict]:
    """The DOCUMENTS texts with planted exact duplicates (1 or 2 extra
    copies, alternately, of 4 %) and near duplicates (one word of a 40+-word doc
    changed, 4 %); returns (docs, plan)."""
    import pyarrow.parquet as pq

    base = pq.read_table(DOCUMENTS).to_pandas()
    rng = np.random.default_rng([seed, 7])
    texts = [t.split() for t in base["text"]]
    sources = list(base["source"])
    vocab = sorted({w for t in texts for w in t})
    lone = ~base["has_twin"].to_numpy()

    n = len(texts)
    order = [int(i) for i in rng.permutation(n) if lone[i]]
    near_src = [i for i in order if len(texts[i]) >= NEAR_MIN_WORDS][: n // 25]
    exact_src = [i for i in order if i not in set(near_src)][: n // 25]

    docs = [" ".join(t) for t in texts]
    groups = []
    for k, i in enumerate(exact_src):
        copies = 1 + k % 2
        groups.append([i] + [len(docs) + c for c in range(copies)])
        docs.extend([docs[i]] * copies)
        sources.extend([sources[i]] * copies)
    near = []
    for i in near_src:
        w = list(texts[i])
        pos = int(rng.integers(0, len(w)))
        w[pos] = vocab[(vocab.index(w[pos]) + 1 + int(rng.integers(0, len(vocab) - 1))) % len(vocab)]
        near.append((i, len(docs)))
        docs.append(" ".join(w))
        sources.append(sources[i])

    # shuffle doc ids so planted copies are not adjacent
    perm = rng.permutation(len(docs))
    new_id = {int(old): new for new, old in enumerate(perm)}
    out = pd.DataFrame(
        {
            "doc_id": np.arange(len(docs), dtype=np.int64),
            "text": [docs[old] for old in perm],
            "source": [sources[old] for old in perm],
        }
    )
    plan = {
        "exact_groups": [[new_id[i] for i in g] for g in groups],
        "near_pairs": [(new_id[a], new_id[b]) for a, b in near],
    }
    return out, plan
