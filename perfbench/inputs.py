"""Seeded inputs: transcript corpora, re-index deltas and the star-schema
tables the graph entries read. The same seed gives the same inputs."""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from hikma_engine_spark import synth


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    # Spark's parquet reader rejects TIMESTAMP(NANOS); several row groups
    # keep the scan splittable, as a real table is
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True,
        row_group_size=max(2048, len(pdf) // 16),
    )
    return path


def corpus(n_turns: int, seed: int, big_conv_every: int, big_conv_turns: int) -> pd.DataFrame:
    """Exactly `n_turns` turns of `synth.generate_transcripts` output:
    heavy-tailed turn counts, a `big_conv_turns` giant every
    `big_conv_every` conversations, hot entities. Conversations are kept
    in order until the budget is spent (the last one cut short), so every
    seed gives the same input size."""
    n_convs = 2 * n_turns // 10  # ~13 turns per ordinary conversation
    pdf = synth.generate_transcripts(
        n_convs=n_convs, seed=seed, big_conv_every=big_conv_every,
        big_conv_turns=big_conv_turns,
    )
    if len(pdf) < n_turns:
        raise ValueError(f"{n_convs} conversations hold fewer than {n_turns} turns")
    return pdf.iloc[:n_turns].reset_index(drop=True)


@dataclass
class Delta:
    full: pd.DataFrame  # the whole input after the delta
    changed: pd.DataFrame  # full new row sets of the changed and added convs
    deleted: tuple[str, ...]


class DeltaStream:
    """Each delta appends two turns to one existing conversation, adds one
    conversation and deletes another, all drawn from the seed. Giants
    (500 turns or more) are never picked, so every delta has the same
    size whatever the seed."""

    def __init__(self, base: pd.DataFrame, seed: int) -> None:
        self.current = base
        self.rng = np.random.RandomState(seed + 7919)
        self.serial = 0

    def next(self) -> Delta:
        self.serial += 1
        cur = self.current
        sizes = cur.groupby("conv_id").size()
        convs = np.array(sorted(sizes.index[sizes < 500]))
        touched, deleted = convs[self.rng.choice(len(convs), size=2, replace=False)]
        donor = synth.generate_transcripts(
            n_convs=2, seed=int(self.rng.randint(1 << 30)), big_conv_every=0
        )
        first, second = donor["conv_id"].unique()
        old = cur.loc[cur["conv_id"] == touched]
        appended = donor[donor["conv_id"] == first].head(2).assign(
            conv_id=touched,
            turn_idx=(old["turn_idx"].max() + 1 + np.arange(2)).astype("int32"),
            ts=old["ts"].max() + pd.to_timedelta(1 + np.arange(2), unit="s"),
        )
        added = donor[donor["conv_id"] == second].assign(conv_id=f"convNEW{self.serial:06d}")
        new_rows = pd.concat([appended, added], ignore_index=True).astype(cur.dtypes.to_dict())
        full = pd.concat([cur[cur["conv_id"] != deleted], new_rows], ignore_index=True)
        self.current = full
        changed = full[full["conv_id"].isin([touched, added["conv_id"].iloc[0]])]
        return Delta(full=full, changed=changed.reset_index(drop=True), deleted=(str(deleted),))


_DOC_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()


def star_tables(seed: int, out_dir: str) -> str:
    """The tables the graph entries read (documents, embeddings, orders,
    lineitem, events), shaped like the project's sf0.001 test data.
    Returns the directory."""
    rng = np.random.RandomState(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_docs = 500
    lens = rng.randint(8, 80, size=n_docs)
    texts = [" ".join(rng.choice(_DOC_WORDS, size=n)) for n in lens]
    for i in rng.choice(n_docs, size=max(1, n_docs // 20), replace=False):
        texts[i] = texts[i] + " dup"
    write_parquet(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "fr", "es", "zh", "de"], size=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    n_vec, dim = 500, 64
    labels = rng.randint(0, 10, size=n_vec).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write_parquet(pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels,
    }), os.path.join(out_dir, "embeddings.parquet"))

    n_cust, n_part, n_supp, n_ord = 150, 200, 10, 1500
    dates = pd.Timestamp("1995-01-01") + pd.to_timedelta(
        rng.randint(0, 2404, size=n_ord), unit="D"
    )
    write_parquet(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, size=n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], size=n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 400000, size=n_ord), 2),
        "o_orderdate": dates,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_ord
        ),
    }), os.path.join(out_dir, "orders.parquet"))

    per_order = rng.randint(1, 8, size=n_ord)
    okeys = np.repeat(np.arange(n_ord), per_order)
    n_li = len(okeys)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.randint(1, 51, size=n_li).astype(float)
    write_parquet(pd.DataFrame({
        "l_orderkey": okeys.astype(np.int64),
        "l_partkey": rng.randint(0, n_part, size=n_li).astype(np.int64),
        "l_suppkey": rng.randint(0, n_supp, size=n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n_li), 2),
        "l_discount": np.round(rng.randint(0, 11, size=n_li) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, size=n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], size=n_li),
        "l_linestatus": rng.choice(["O", "F"], size=n_li),
        "l_shipdate": dates[okeys] + pd.to_timedelta(rng.randint(1, 122, size=n_li), unit="D"),
    }), os.path.join(out_dir, "lineitem.parquet"))

    n_ev = 1000
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.uniform(0, 30 * 86400, size=n_ev)), unit="s"
    )
    write_parquet(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.randint(0, 15, size=n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], size=n_ev),
        "value": np.round(rng.exponential(50.0, size=n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, size=n_ev)],
    }), os.path.join(out_dir, "events.parquet"))
    return out_dir
