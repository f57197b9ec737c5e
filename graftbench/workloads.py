"""The benchmark's workloads and their output checks.

Each workload is a closed loop driven by one client: the benchmark
process sends one operation at a time to the engine's ``local[nproc]``
session and waits for it. ``run_round(op, check)`` runs the workload's
fixed op list once, each op inside ``with op(name):`` (the caller's
timer), and returns the failures of the output checks it ran between
ops, outside the timed window (empty when every output is right).
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import numpy as np

import inputs

#: every lifecycle and round-trip op provides these targets; their
#: dependency closure is all ten annotation modes
TARGETS = ["WIKI", "COREF", "VERB_SRL", "NOM_SRL", "STANFORD_PARSE"]
VIEW_COLS = ("label_views", "cluster_views", "parse_views")
#: round-trip output records decoded and checked per op
DECODE_SAMPLE = 100


def all_views() -> set[str]:
    from curatorhadoopinterface_spark.plans.registry import MODES, dependency_closure

    out: set[str] = set()
    for t in TARGETS:
        for m in dependency_closure(t):
            out.update({MODES[m].view, *MODES[m].extra_views})
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def subset_matches(expected, actual) -> bool:
    """``actual`` (a Spark row turned into plain Python) carries every
    value of ``expected`` (an annotator's payload); fields the engine's
    schema adds beyond the payload must be null. An empty map or list
    matches null (the Thrift codec does not write empty optional maps)."""
    if actual is None and expected in ({}, []):
        return True
    if isinstance(expected, dict):
        if not isinstance(actual, dict):
            return False
        if any(k not in expected and v is not None for k, v in actual.items()):
            return False
        return all(subset_matches(v, actual.get(k)) for k, v in expected.items())
    if isinstance(expected, list):
        return (
            isinstance(actual, list)
            and len(expected) == len(actual)
            and all(subset_matches(e, a) for e, a in zip(expected, actual))
        )
    return expected == actual


def check_views_against_annotators(rows: list[dict], texts: dict[str, str]) -> list[str]:
    """Every view on each sampled record equals what the annotators
    compute for its text on the driver, single-threaded."""
    from curatorhadoopinterface_spark.annotators.light import annotate_record

    bad = []
    for r in rows:
        expected = annotate_record(texts[r["identifier"]], {}, TARGETS)
        got = {}
        for col in VIEW_COLS:
            got.update(r.get(col) or {})
        if set(got) != set(expected):
            bad.append(f"{r['identifier'][:10]}: views {sorted(set(expected) ^ set(got))} differ")
        elif not all(subset_matches(expected[v], got[v]) for v in expected):
            bad.append(f"{r['identifier'][:10]}: view values differ from the annotators")
    return bad


class Corpus:
    """The workload's documents, their identifiers and the delta split."""

    def __init__(self, seed: int, n_docs: int):
        from curatorhadoopinterface_spark.functions.hashing import record_identifier_py

        self.docs = inputs.documents(seed, n_docs)
        self.texts: list[str] = self.docs["text"].tolist()
        self.held = inputs.delta_split(seed, n_docs)
        self.ids = [record_identifier_py(t) for t in self.texts]
        self.text_of = dict(zip(self.ids, self.texts))
        self.text_bytes = sum(len(t.encode("utf-8")) for t in self.texts)
        self.rng = np.random.default_rng(seed + 3)

    @property
    def base_texts(self) -> list[str]:
        return [t for t, h in zip(self.texts, self.held) if not h]

    def sample_ids(self, ids: set[str], k: int = 16) -> list[str]:
        pool = sorted(ids)
        return [pool[i] for i in self.rng.choice(len(pool), size=min(k, len(pool)), replace=False)]


# ---------------------------------------------------------------------------
# store_lifecycle
# ---------------------------------------------------------------------------
class StoreLifecycle:
    """cold -> warm -> force(NER) -> delta, each the CLI's
    ``annotate --store`` sequence: read_text_corpus -> provide_incremental
    -> count, against a store that starts empty every round."""

    name = "store_lifecycle"
    PHASES = ("cold", "warm", "force", "delta")

    def __init__(self, ctx, n_docs: int):
        self.ctx = ctx
        self.corpus = Corpus(ctx.seed, n_docs)
        self.views = all_views()
        self.snapshots: dict[str, Counter] = {}
        self.short_returns: dict[str, dict] = {}
        self.store_rows: dict[str, int] = {}

    def make_inputs(self, dest: str) -> None:
        c = self.corpus
        inputs.write_text_corpus(c.base_texts, os.path.join(dest, "base"))
        inputs.write_text_corpus(c.texts, os.path.join(dest, "full"))

    def setup(self, data_dir: str) -> None:
        self.data = data_dir
        self.store = os.path.join(self.ctx.work, "store")

    def _op(self, phase: str, store: str) -> int:
        from curatorhadoopinterface_spark.io import read_text_corpus
        from curatorhadoopinterface_spark.plans.incremental import RecordStore

        src = os.path.join(self.data, "full" if phase == "delta" else "base")
        kw = {"force_start": "NER"} if phase == "force" else {}
        df = read_text_corpus(self.ctx.spark, src)
        return RecordStore(self.ctx.spark, store).provide_incremental(df, TARGETS, **kw).count()

    def run_round(self, op, check: bool, warmup: bool = False) -> list[str]:
        shutil.rmtree(self.store, ignore_errors=True)
        failures = []
        # the warm-up round is cold and warm only: force and delta run
        # the same code paths as warm
        for phase in self.PHASES[:2] if warmup else self.PHASES:
            n = None
            with op(phase):
                n = self._op(phase, self.store)
            if check:
                failures += [f"{phase}: {m}" for m in self.check_phase(phase, n)]
        return failures

    # -- output checks --------------------------------------------------
    def store_state(self, store: str, sample: list[str]):
        """One read of the store on disk: the multiset of (identifier,
        view, payload hash), the distinct identifiers per view, the full
        records of the ``sample`` identifiers (one copy each), and the
        rows per identifier."""
        import pyspark.sql.functions as F

        df = self.ctx.spark.read.parquet(store)
        hashed = [
            F.transform(
                F.map_entries(F.col(c)),
                lambda e: F.struct(e["key"].alias("v"), F.xxhash64(F.to_json(e["value"])).alias("h")),
            ).alias(f"h_{c}")
            for c in VIEW_COLS
        ]
        in_sample = F.col("identifier").isin(sample)
        full = [F.when(in_sample, F.col(c)).alias(c) for c in VIEW_COLS]
        entries: Counter = Counter()
        per_view: dict[str, set] = {}
        records: dict[str, dict] = {}
        rows: Counter = Counter()
        for r in df.select("identifier", *hashed, *full).collect():
            for c in VIEW_COLS:
                for e in r[f"h_{c}"] or []:
                    entries[(r["identifier"], e["v"], e["h"])] += 1
                    per_view.setdefault(e["v"], set()).add(r["identifier"])
            if r["identifier"] in sample:
                records[r["identifier"]] = {
                    "identifier": r["identifier"],
                    **{c: {k: v.asDict(recursive=True) for k, v in (r[c] or {}).items()} for c in VIEW_COLS},
                }
            rows[r["identifier"]] += 1
        return entries, {v: len(s) for v, s in per_view.items()}, list(records.values()), rows

    def expected_ids(self, phase: str) -> set[str]:
        c = self.corpus
        return {i for i, h in zip(c.ids, c.held) if phase == "delta" or not h}

    def check_phase(self, phase: str, n_out: int, store: str | None = None) -> list[str]:
        """The store after ``phase`` holds exactly the phase's input
        identifiers, each with every view of the targets' closure; warm
        and force leave it equal to the cold store (the annotators are
        deterministic, so NER, WIKI and COREF recomputed by force equal
        their cold values); delta adds the new records and leaves the
        old ones unchanged; sampled records equal the annotators' output
        computed on the driver."""
        store = store or self.store
        want = self.expected_ids(phase)
        n_in = len(self.corpus.texts) if phase == "delta" else len(self.corpus.base_texts)
        if n_out is not None and n_out != n_in:
            self.short_returns[phase] = {"returned_rows": n_out, "input_docs": n_in}
        bad = []
        sample = self.corpus.sample_ids(want)
        entries, per_view, records, rows = self.store_state(store, sample)
        have = set(rows)
        self.store_rows = {"store_rows": sum(rows.values()), "identifiers": len(have)}
        if have != want:
            bad.append(f"{len(have - want)} unexpected and {len(want - have)} missing identifiers")
        if per_view != dict.fromkeys(self.views, len(want)):
            diff = {v: per_view.get(v, 0) for v in self.views if per_view.get(v, 0) != len(want)}
            bad.append(f"per-view identifier counts {diff}, expected {len(want)} each")
        self.snapshots[phase] = entries
        cold = self.snapshots.get("cold")
        if phase in ("warm", "force") and entries != cold:
            bad.append(f"store differs from the cold store in {sum((entries ^ cold).values())} view entries")
        if phase == "delta":
            old_ids = self.expected_ids("cold")
            if Counter({k: v for k, v in entries.items() if k[0] in old_ids}) != cold:
                bad.append("records present before the delta changed")
        if len(records) != len(sample):
            bad.append(f"{len(sample) - len(records)} sampled identifiers missing from the store")
        bad += check_views_against_annotators(records, self.corpus.text_of)
        return bad

    def written_bytes(self, spark_output_bytes: int) -> int:
        return spark_output_bytes

    def known_failing(self) -> dict:
        """Checks that fail on the engine as it is, reported by name and
        not counted in ``failed``: the store should keep one record per
        identifier (the paper's archive) but keeps one per input file, and
        a phase returns one record per stored copy, so a duplicated text
        whose copies straddle the delta split comes back once."""
        return {
            "store_one_record_per_identifier": self.store_rows,
            "returned_one_record_per_input_doc": self.short_returns or "passed",
        }

    @property
    def input_bytes(self) -> int:
        return self.corpus.text_bytes


# ---------------------------------------------------------------------------
# thrift_roundtrip
# ---------------------------------------------------------------------------
class ThriftRoundtrip:
    """read_thrift_records -> provide(remaining modes) ->
    write_thrift_records into a fresh directory. Input records already
    carry TOKEN, SENTENCE and POS, so provide reuses them (partial memo
    hits); the record store is not used."""

    name = "thrift_roundtrip"
    PHASES = ("roundtrip",)

    def __init__(self, ctx, n_docs: int):
        self.ctx = ctx
        self.corpus = Corpus(ctx.seed, n_docs)
        self.views = all_views()

    def make_inputs(self, dest: str) -> None:
        self.blobs = inputs.write_thrift_corpus(self.corpus.texts, os.path.join(dest, "thrift"))

    def setup(self, data_dir: str) -> None:
        self.data = data_dir
        self.distinct_bytes = sum(len(self.corpus.text_of[i].encode("utf-8")) for i in self.blobs)

    def run_round(self, op, check: bool, warmup: bool = False) -> list[str]:
        from curatorhadoopinterface_spark.io import read_thrift_records, write_thrift_records
        from curatorhadoopinterface_spark.plans.provide import provide

        out = os.path.join(self.ctx.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        src = os.path.join(self.data, "thrift")
        # the warm-up round is two ops: the first op on a fresh JVM is
        # about 2.5x slower than later ones, the second still 1.2x
        for _ in range(2 if warmup else 1):
            with op("roundtrip"):
                write_thrift_records(provide(read_thrift_records(self.ctx.spark, src), TARGETS), out)
        self.files_written = dir_bytes(out)
        failures = [f"roundtrip: {m}" for m in self.check_output(out)] if check else []
        shutil.rmtree(out, ignore_errors=True)
        return failures

    def check_output(self, out: str) -> list[str]:
        from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record

        bad = []
        names = sorted(os.listdir(out))
        if len(names) != len(self.blobs):
            bad.append(f"{len(names)} output files for {len(self.blobs)} input records")
        ids = {n[: -len(".txt")] for n in names if n.endswith(".txt")}
        if ids != set(self.blobs):
            bad.append(f"{len(ids ^ set(self.blobs))} identifiers differ from the input")
        # decoding is the slow part (a few MB/s), so views are checked on
        # a seeded sample of the records
        sample = self.corpus.sample_ids(ids & set(self.blobs), k=DECODE_SAMPLE)
        rows = []
        for ident in sample:
            with open(os.path.join(out, f"{ident}.txt"), "rb") as fh:
                rec = decode_thrift_record(fh.read())
            if rec["identifier"] != ident or rec["raw_text"] != self.corpus.text_of[ident]:
                bad.append(f"{ident[:10]}: identifier or text changed")
                continue
            got = {}
            for col in VIEW_COLS:
                got.update(rec.get(col) or {})
            if set(got) != self.views:
                bad.append(f"{ident[:10]}: views {sorted(self.views ^ set(got))} missing or extra")
                continue
            before = decode_thrift_record(self.blobs[ident])["label_views"]
            if any(json.dumps(before[v], sort_keys=True) != json.dumps(got[v], sort_keys=True) for v in before):
                bad.append(f"{ident[:10]}: an input view changed")
            rows.append({"identifier": ident, **{c: rec.get(c) for c in VIEW_COLS}})
        bad += check_views_against_annotators(rows, self.corpus.text_of)
        return bad[:20]

    def written_bytes(self, spark_output_bytes: int) -> int:
        return spark_output_bytes + self.files_written

    def known_failing(self) -> dict:
        return {}

    @property
    def input_bytes(self) -> int:
        return self.distinct_bytes


WORKLOADS = {w.name: w for w in (StoreLifecycle, ThriftRoundtrip)}
