"""The benchmark's workloads. Each one makes its inputs from the seed,
runs one operation through the public API, and checks the output
against the fixture ground truth.

A workload object offers:
  inputs(i)            the i-th operation's input frame (built untimed)
  op(frame, tracer, ckpt)  the operation; returns (pipeline frames, rows)
  check(i, rows)       dict with "ok" and the counts the metrics use
  units(i)             work units the operation processed
  quality(checks)      (precision, recall) over a list of check dicts
  layer_metrics(...)   workload-specific per-layer numbers (traced run)

AppendProbe measures the incremental write path in a traced run.
"""

from __future__ import annotations

import os
import random
import statistics

from pyspark.sql import functions as F

from lamapi_spark.operators.lookup import lookup
from lamapi_spark.pipeline.fixtures import TRANSCRIPTS_SCHEMA, build_transcripts
from lamapi_spark.pipeline.incremental import run_pipeline_incremental
from lamapi_spark.pipeline.run import run_pipeline, triple_prf
from lamapi_spark.pipeline.triples import mention_pairs

# bench-scale KG (FIXTURES.md): about 900 items
KG_SIZE = dict(n_people=400, n_orgs=120, n_locs=60, n_films=250)

_TRIPLE_KEYS = ("conv_id", "turn_idx", "subj", "pred", "obj")


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


class KGBatch:
    """run_pipeline over a seeded sequence of transcript batches with
    prebuilt index artifacts; the batch's triples are collected.

    Batches are cut from the generated conversations by turn count, so
    that every seed's timed batches carry the same work (about 50
    conversations). A warm batch costs about 12 s of fixed per-job cost
    plus about 0.03 s per conversation; the warm-up batch is large
    (about 200 conversations) because that costs little more and runs
    more of the program's loops while the JIT compiles them."""

    name = "kg_batch"
    warmups = 1
    min_ops = 2
    max_ops = 3
    warmup_turns = 2400
    batch_turns = 600
    # floors for one batch's triple (precision, recall) against the
    # generator's ground truth, under the lowest the program reached on
    # batches of 50 conversations over six KG seeds (0.980 / 0.910;
    # larger batches reach more)
    floors = (0.97, 0.88)

    def __init__(self, spark, kg, frames, index, seed):
        self.spark, self.frames, self.index = spark, frames, index
        sizes = [self.warmup_turns] * self.warmups + [self.batch_turns] * self.max_ops
        # conversations have at least 8 turns, so this many fill every batch
        turns, _, truth = build_transcripts(kg, seed=seed + 1,
                                            n_convs=sum(sizes) // 8)
        convs: dict[str, list] = {}
        for row in turns:
            convs.setdefault(row[0], []).append(row)
        self.turns, batch_of = [[]], {}
        for conv_id, rows in convs.items():
            if len(self.turns[-1]) >= sizes[len(self.turns) - 1]:
                if len(self.turns) == len(sizes):
                    break
                self.turns.append([])
            self.turns[-1].extend(rows)
            batch_of[conv_id] = len(self.turns) - 1
        self.truth = [set() for _ in self.turns]
        for row in truth:
            if row[0] in batch_of:
                self.truth[batch_of[row[0]]].add(tuple(row))

    def inputs(self, i):
        return self.spark.createDataFrame(self.turns[i], TRANSCRIPTS_SCHEMA)

    def units(self, i) -> int:
        return len(self.turns[i])

    def op(self, transcripts, tracer, checkpoint_dir=None):
        out = run_pipeline(
            self.spark, transcripts, self.frames["kg_items"],
            self.frames["kg_edges"], kg_sameas=self.frames["kg_sameas"],
            index=self.index, checkpoint_dir=checkpoint_dir)
        return out, out["triples"].select(*_TRIPLE_KEYS).collect()

    def check(self, i, rows) -> dict:
        got = {tuple(r) for r in rows}
        want = self.truth[i]
        tp = len(got & want)
        p = tp / len(got) if got else 0.0
        r = tp / len(want) if want else 0.0
        return {"ok": p >= self.floors[0] and r >= self.floors[1],
                "tp": tp, "n_pred": len(got), "n_truth": len(want)}

    def cross_check(self, i, rows) -> bool:
        """The set-level scorer above agrees with the program's own
        ``triple_prf`` on batch ``i`` (traced runs, untimed)."""
        mine = self.check(i, rows)
        schema = "conv_id string, turn_idx int, subj string, pred string, obj string"
        got = self.spark.createDataFrame([tuple(r) for r in rows], schema)
        want = self.spark.createDataFrame(sorted(self.truth[i]), schema)
        ref = triple_prf(got, want)
        return (ref["tp"], ref["n_pred"], ref["n_truth"]) == (
            mine["tp"], mine["n_pred"], mine["n_truth"])

    @staticmethod
    def quality(checks) -> tuple[float, float]:
        tp = sum(c["tp"] for c in checks)
        n_pred = sum(c["n_pred"] for c in checks)
        n_truth = sum(c["n_truth"] for c in checks)
        return (tp / n_pred if n_pred else 0.0,
                tp / n_truth if n_truth else 0.0)

    # pipeline stage -> (time metric, rows metric or None)
    STAGES = {
        "label_dict": ("label_dict.build_s", None),
        "mentions": ("mentions.detect_s", "mentions.rows_out"),
        "oov_mentions": ("mentions.oov_s", "mentions.oov_rows_out"),
        "candidates": ("linking.candidates_s", "linking.candidates_rows_out"),
        "linked": ("linking.link_s", None),
        "triples_raw": ("triples.extract_s", "triples.rows_out"),
        "canonical_map": ("canonicalize.map_s", None),
        "triples": ("canonicalize.apply_s", None),
    }

    def traced_counts(self, out) -> dict:
        """Counts read back from the checkpointed stage outputs of one
        traced operation (untimed)."""
        linked = out["linked"]
        r = linked.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.col("nil").cast("int")).alias("nil")).head()
        pairs = mention_pairs(linked).count()
        return {"spans": r["n"], "nil_spans": r["nil"] or 0, "pairs": pairs}

    def layer_metrics(self, tracer, op_ids, counts) -> dict:
        m = {}
        for stage, (time_name, rows_name) in self.STAGES.items():
            spans = tracer.by_name(f"stage.{stage}", op_ids)
            m[time_name] = median_or_zero([s["end"] - s["start"] for s in spans])
            if rows_name:
                m[rows_name] = median_or_zero([s["counts"].get("rows_out") or 0
                                        for s in spans])
        m["linking.nil_frac"] = median_or_zero(
            [c["nil_spans"] / c["spans"] for c in counts if c["spans"]])
        raw = tracer.by_name("stage.triples_raw", op_ids)
        m["triples.yield"] = median_or_zero(
            [(s["counts"].get("rows_out") or 0) / c["pairs"]
             for s, c in zip(raw, counts) if c["pairs"]])
        m["pipeline.self_s"] = median_or_zero(
            [tracer.self_time(s) for s in tracer.by_name(self.name, op_ids)])
        return m


class LookupService:
    """lookup(fuzzy=True) requests of a few mention surfaces each, drawn
    Zipf-skewed from labels, aliases, case and one-edit variants plus
    NIL names, so that requests repeat surfaces."""

    name = "lookup_service"
    warmups = 1
    min_ops = 2
    max_ops = 16
    request_size = 32
    # the warm-up request is large: its candidates are checked and scored
    # with the timed ones, so precision and recall rest on about 500
    # in-KG mentions, not on the few dozen of the timed requests
    warmup_size = 512
    zipf_s = 1.0
    nil_share = 0.1

    def __init__(self, spark, kg, frames, index, seed):
        self.spark, self.frames, self.index = spark, frames, index
        rng = random.Random(seed + 2)
        pool = self._surface_pool(kg, rng)
        rng.shuffle(pool)
        weights = [1.0 / (rank + 1) ** self.zipf_s for rank in range(len(pool))]
        sizes = ([self.warmup_size] * self.warmups
                 + [self.request_size] * self.max_ops)
        self.requests = [rng.choices(pool, weights, k=k) for k in sizes]

    @staticmethod
    def _norm(s: str) -> str:
        # clean_str's rule: lowercase, collapse whitespace, trim
        return " ".join(s.lower().split())

    def _surface_pool(self, kg, rng) -> list[tuple[str, str | None]]:
        """(surface, generating entity or None for NIL names)."""
        best: dict[str, tuple[int, str]] = {}
        for item in kg.items:
            label = item["labels"].get("en")
            if item["kind"] == "entity" and label:
                if label not in best or item["popularity"] > best[label][0]:
                    best[label] = (item["popularity"], item["entity"])
        names = set(best)
        names.update(a for aliases in kg.aliases_of.values() for a in aliases)
        names = {self._norm(n) for n in names}
        pool = []
        for label, (_, qid) in sorted(best.items()):
            pool.append((label, qid))
            pool.append((label.title() if rng.random() < 0.5 else label.upper(), qid))
            pool.extend((alias, qid) for alias in kg.aliases_of.get(qid, []))
            typo = self._one_edit(label, rng)
            if typo and self._norm(typo) not in names:
                pool.append((typo, qid))
        letters, vowels = "bcdfgjkpqvwxz", "aeiou"
        for _ in range(int(len(pool) * self.nil_share)):
            words = ["".join(rng.choice(letters) + rng.choice(vowels)
                             for _ in range(4)) for _ in range(2)]
            pool.append((" ".join(words), None))
        return pool

    @staticmethod
    def _one_edit(label: str, rng) -> str | None:
        """One substitution inside the longest token (length >= 4)."""
        toks = label.split(" ")
        k = max(range(len(toks)), key=lambda j: len(toks[j]))
        tok = toks[k]
        if len(tok) < 4:
            return None
        pos = rng.randrange(1, len(tok))
        toks[k] = tok[:pos] + rng.choice(
            [c for c in "abcdefghijklmnopqrstuvwxyz" if c != tok[pos]]) + tok[pos + 1:]
        return " ".join(toks)

    def inputs(self, i):
        return self.spark.createDataFrame(
            [(s,) for s, _ in self.requests[i]], "mention string")

    def units(self, i) -> int:
        return len(self.requests[i])

    def op(self, mentions, tracer, checkpoint_dir=None):
        with tracer.span("lookup") as rec:
            rows = lookup(mentions, None, self.frames["kg_items"], fuzzy=True,
                          index=self.index).collect()
            rec["counts"]["rows"] = len(rows)
            rec["counts"]["mentions"] = len({r["mention_norm"] for r in rows})
        return None, rows

    def check(self, i, rows) -> dict:
        cands: dict[str, set[str]] = {}
        best: dict[str, tuple] = {}
        for r in rows:
            cands.setdefault(r["mention_norm"], set()).add(r["id"])
            # linking's decision rule: similarity, then popularity, then id
            key = (-(r["ed_score"] + r["jaccard_score"] + r["jaccardNgram_score"]),
                   -r["popularity"], r["id"])
            if r["mention_norm"] not in best or key < best[r["mention_norm"]]:
                best[r["mention_norm"]] = key
        in_kg = found = top1 = 0
        for surface, qid in self.requests[i]:
            if qid is None:
                continue
            norm = self._norm(surface)
            in_kg += 1
            found += qid in cands.get(norm, ())
            top1 += norm in best and best[norm][2] == qid
        return {"ok": found == in_kg, "in_kg": in_kg, "found": found,
                "top1": top1}

    @staticmethod
    def quality(checks) -> tuple[float, float]:
        in_kg = sum(c["in_kg"] for c in checks)
        return (sum(c["top1"] for c in checks) / in_kg if in_kg else 0.0,
                sum(c["found"] for c in checks) / in_kg if in_kg else 0.0)

    def traced_counts(self, out) -> dict:
        return {}

    def cross_check(self, i, rows) -> bool:
        return True

    def layer_metrics(self, tracer, op_ids, counts) -> dict:
        spans = tracer.by_name("lookup", op_ids)
        return {
            "lookup.request_s": median_or_zero([s["end"] - s["start"] for s in spans]),
            "lookup.rows_per_mention": median_or_zero(
                [s["counts"]["rows"] / s["counts"]["mentions"] for s in spans]),
        }


def _files(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``path``."""
    found = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            found[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return found


class AppendProbe:
    """The incremental write path, measured in a traced run: one append
    of ``seed_convs`` conversations seeds a fresh output directory, a
    second append of ``delta_convs`` new conversations is measured, and
    the union of both is checked against a one-shot ``run_pipeline`` over
    the same conversations (the invariant pipeline/incremental.py
    documents). The one-shot run goes first: it also warms the pipeline,
    which has not run yet in a lookup_service JVM. The seeding append is
    large enough that nearly every output bucket holds prior rows, so
    the measured append rewrites prior rows in each bucket it touches."""

    seed_convs = 100
    delta_convs = 10

    def __init__(self, spark, kg, frames, index, seed, out_dir):
        self.spark, self.frames, self.index = spark, frames, index
        self.out_dir = out_dir
        turns, _, _ = build_transcripts(
            kg, seed=seed + 3, n_convs=self.seed_convs + self.delta_convs)
        self.deltas = [[], []]
        for row in turns:
            self.deltas[int(row[0].split("-")[1]) >= self.seed_convs].append(row)

    def _frame(self, rows):
        return self.spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)

    def append(self, k: int, tracer) -> dict:
        """Append delta ``k``; the counts the metrics use."""
        before = _files(self.out_dir)
        with tracer.span("incremental.append") as rec:
            res = run_pipeline_incremental(
                self.spark, self._frame(self.deltas[k]),
                self.frames["kg_items"], self.frames["kg_edges"],
                self.out_dir, kg_sameas=self.frames["kg_sameas"],
                index=self.index)
        after = _files(self.out_dir)
        written = [p for p, meta in after.items() if before.get(p) != meta]
        # rows of earlier appends in the bucket directories written now
        dirs = {os.path.basename(os.path.dirname(p)) for p in written}
        buckets = sorted(int(d.split("=")[1]) for d in dirs
                         if d.startswith("_bucket="))
        convs = sorted({row[0] for row in self.deltas[k]})
        prior = (self.spark.read.parquet(os.path.join(self.out_dir, "triples"))
                 .where(F.col("_bucket").isin(buckets)
                        & ~F.col("conv_id").isin(convs))
                 .count())
        rec["counts"].update(
            new_triples=res["new_triples"], files_written=len(written),
            bytes_written=sum(after[p][0] for p in written),
            prior_rows_rewritten=prior)
        return rec

    def one_shot(self) -> set:
        """Triples of one run_pipeline over both deltas."""
        out = run_pipeline(
            self.spark, self._frame(self.deltas[0] + self.deltas[1]),
            self.frames["kg_items"], self.frames["kg_edges"],
            kg_sameas=self.frames["kg_sameas"], index=self.index)
        return {tuple(r) for r in out["triples"].select(*_TRIPLE_KEYS).collect()}

    def appended(self) -> set:
        """Triples in the output directory."""
        return {tuple(r) for r in self.spark.read.parquet(
            os.path.join(self.out_dir, "triples")).select(*_TRIPLE_KEYS).collect()}

    @staticmethod
    def metrics(rec) -> dict:
        c = rec["counts"]
        return {
            "incremental.append_s": rec["end"] - rec["start"],
            "incremental.bytes_written": c["bytes_written"],
            "incremental.files_written": c["files_written"],
            "incremental.prior_rows_rewritten": c["prior_rows_rewritten"],
            "write_bytes_per_triple": (c["bytes_written"] / c["new_triples"]
                                       if c["new_triples"] else 0.0),
        }


WORKLOADS = {w.name: w for w in (KGBatch, LookupService)}
