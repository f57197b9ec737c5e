"""Seeded input generators.

Everything the engine sees is made here from ``--seed``: the same seed
gives byte-identical inputs. The generators mimic the shape of the
``documents`` fixture table the engine is developed against (a
31-word vocabulary that includes the NER gazetteer words, 10-100
words per document, 5% near-duplicates that end in `` dup``, and a few
verbatim duplicates), so the annotation, dedup and record-store paths
see the same kind of text they see in the repository's own tests.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

#: modes a Thrift input record already carries (the views a reference
#: tokenizer + POS job leaves behind)
THRIFT_INPUT_MODES = ["TOKEN", "SENTENCE", "POS"]


def documents(seed: int, n: int) -> pd.DataFrame:
    """``documents`` table: doc_id, text, lang, source, n_chars.

    About 1 in 625 documents is a verbatim copy of an earlier one (at
    least two copies per corpus), so identifiers collide the way they
    do in the fixture corpus; 5% are near-duplicates (an earlier text
    plus `` dup``) for the dedup operators.
    """
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB)
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(words[rng.integers(0, len(VOCAB), size=k)]))
    near = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    n_exact = max(2, round(n / 625))
    exact = rng.choice(np.setdiff1d(np.arange(1, n), near), size=n_exact, replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def delta_split(seed: int, n: int, frac: float = 0.1) -> np.ndarray:
    """Boolean mask of the documents held back for the delta phase."""
    rng = np.random.default_rng(seed + 1)
    held = np.zeros(n, dtype=bool)
    held[rng.choice(n, size=round(n * frac), replace=False)] = True
    return held


def write_text_corpus(texts: list[str], path: str) -> None:
    """One ``.txt`` per document (the reference's raw-text input
    layout)."""
    os.makedirs(path, exist_ok=True)
    for i, t in enumerate(texts):
        with open(os.path.join(path, f"doc{i:06d}.txt"), "w", encoding="utf-8") as fh:
            fh.write(t)


def write_thrift_corpus(texts: list[str], path: str) -> dict[str, bytes]:
    """One reference-format TBinaryProtocol ``Record`` per distinct text,
    named ``<identifier>.txt`` and already carrying the TOKEN, SENTENCE
    and POS views. Returns identifier -> blob."""
    from curatorhadoopinterface_spark.annotators.light import annotate_record
    from curatorhadoopinterface_spark.functions.hashing import record_identifier_py
    from curatorhadoopinterface_spark.thrift_codec import encode_thrift_record

    os.makedirs(path, exist_ok=True)
    blobs: dict[str, bytes] = {}
    for t in texts:
        ident = record_identifier_py(t)
        if ident in blobs:
            continue
        views = annotate_record(t, {}, THRIFT_INPUT_MODES)
        blob = encode_thrift_record(
            {"identifier": ident, "raw_text": t, "whitespaced": False, "label_views": views}
        )
        with open(os.path.join(path, f"{ident}.txt"), "wb") as fh:
            fh.write(blob)
        blobs[ident] = blob
    return blobs


def operator_tables(seed: int, sf: float, docs: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The tables the operators probe's queries read: ``lineitem`` at
    scale factor ``sf`` (6M x sf rows, the fixture's columns and value
    domains) and the workload's ``documents``."""
    rng = np.random.default_rng(seed + 2)
    n = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n // 4, n).astype(np.int64),
            "l_partkey": rng.integers(0, n // 30, n).astype(np.int64),
            "l_suppkey": rng.integers(0, max(10, n // 600), n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": np.datetime64("1995-01-02", "us")
            + (rng.integers(0, 2499, n) * 86_400_000_000).astype("timedelta64[us]"),
        }
    )
    return {"lineitem": lineitem, "documents": docs}


def write_tables(tables: dict[str, pd.DataFrame], path: str) -> None:
    """One ``<name>.parquet`` per table, as the engine's ``load_table``
    expects."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False), os.path.join(path, f"{name}.parquet")
        )
