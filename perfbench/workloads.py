"""The benchmark workloads.

Each workload has:

- ``prepare(root, seed)``: generate (or reuse) its inputs under ``root``;
  pure Python, runs before the measured process starts;
- ``run_pass(spark, tracer, deadline)``: one whole pass, every stage and
  sink inside a named span; returns the frames whose noop-sink prefix
  costs the traced run measures (``[(layer, DataFrame)]``);
- ``check(spark, seed)``: output checks ``[(name, ok, detail)]``; at the
  default seed the output digests must equal the ones pinned in
  ``expected.json`` (after a deliberate output change, edit that file
  from the ``got`` values the failed checks print).

Only public functions of ``adam_spark`` and ``__spark_entry__`` are
called; nothing in the package is patched.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from digest import digest_table, dir_bytes, read_parquet_dir

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 1


def noop(df) -> int:
    """Materialize ``df`` through Spark's no-op sink and return its row
    count, observed during the write (a CollectMetrics node, so nothing
    is pruned the way ``count()`` prunes)."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def _check_digests(name: str, got: dict[str, str], seed: int) -> list[tuple[str, bool, str]]:
    """At the default seed, every output digest must equal the pinned one."""
    if seed != DEFAULT_SEED:
        return []
    pinned = expected().get(name, {}).get("digests", {})
    return [
        (f"digest.{k}", pinned.get(k) == v, f"got {v}, pinned {pinned.get(k)}")
        for k, v in sorted(got.items())
    ]


class Workload:
    name = ""

    def __init__(self, root: str):
        self.root = root
        self.out = os.path.join(root, "out", self.name)
        self.outputs: dict[str, str] = {}
        #: row counts seen per query (the query mix)
        self.counts: dict[str, set[int]] = {}

    def output_bytes(self) -> int:
        return sum(dir_bytes(p) for p in self.outputs.values() if os.path.exists(p))


# -- genomics_pipeline -----------------------------------------------------------


class GenomicsPipeline(Workload):
    """transformAlignments: load_bam -> mark_duplicates -> BQSR -> realign
    -> sort -> parquet, then BAM export and collapsed coverage from the
    saved parquet."""

    name = "genomics_pipeline"
    #: reads of the alignment, BQSR and realignment classes
    SIZES = (1500, 750, 300)

    def prepare(self, seed: int) -> None:
        d = os.path.join(self.root, "inputs", self.name, f"seed{seed}")
        self.bam = os.path.join(d, "reads.bam")
        self.truth = os.path.join(d, "truth.parquet")
        if not os.path.exists(self.bam):
            os.makedirs(d, exist_ok=True)
            recs = gen.read_records(seed, *self.SIZES)
            pq.write_table(gen.reads_truth(recs), self.truth)
            gen.write_bam(self.bam, recs)
        self.outputs = {
            "alignments": os.path.join(self.out, "alignments.parquet"),
            "bam": os.path.join(self.out, "alignments.bam"),
            # save_bam writes a .bai next to the BAM (the contigs are far
            # below the .bai limit, so never a .csi)
            "bam_index": os.path.join(self.out, "alignments.bam.bai"),
            "coverage": os.path.join(self.out, "coverage.parquet"),
        }

    def run_pass(self, spark, t, deadline: float | None = None):
        from adam_spark.core.genomic_frame import GenomicFrame
        from adam_spark.operators.bqsr import recalibrate_base_qualities
        from adam_spark.operators.coverage import to_coverage
        from adam_spark.operators.mark_duplicates import mark_duplicates
        from adam_spark.operators.realignment import realign_indels
        from adam_spark.operators.sorts import sort_by_reference_position
        from adam_spark.sources.bam import load_bam, save_bam
        from adam_spark.sources.parquet import load_parquet, save_parquet

        o = self.outputs
        prefixes = []
        with t.span("sources.load_bam"):
            gf = load_bam(spark, self.bam)
        prefixes.append(("sources.load_bam", gf.df))
        with t.span("operators.mark_duplicates"):
            df = mark_duplicates(gf.df, {g.id: (g.library or g.id) for g in gf.meta.read_groups})
        prefixes.append(("operators.mark_duplicates", df))
        with t.span("operators.bqsr"):
            df = recalibrate_base_qualities(df)
        prefixes.append(("operators.bqsr", df))
        with t.span("operators.realignment"):
            df = realign_indels(df)
        prefixes.append(("operators.realignment", df))
        with t.span("operators.sorts"):
            df = sort_by_reference_position(df)
        prefixes.append(("operators.sorts", df))
        with t.span("sources.save_parquet"):
            save_parquet(GenomicFrame(df, gf.meta), o["alignments"], mode="overwrite")
        with t.span("sources.load_parquet"):
            back = load_parquet(spark, o["alignments"])
        with t.span("sources.save_bam"):
            save_bam(back, o["bam"])
        with t.span("operators.coverage"):
            cov = to_coverage(back.df, collapse=True)
        with t.span("sources.save_coverage"):
            cov.write.mode("overwrite").parquet(o["coverage"])
        return prefixes + [("sources.load_parquet", back.df), ("operators.coverage", cov)]

    #: columns a BAM round trip preserves
    BAM_COLUMNS = ["readName", "referenceName", "start", "end", "cigar", "sequence",
                   "qualityScores", "mappingQuality", "mismatchingPositions",
                   "duplicateRead", "readNegativeStrand", "readGroupId"]

    def check(self, spark, seed: int):
        from adam_spark.sources.bam import load_bam

        truth = self.truth
        n_reads = pq.ParquetFile(truth).metadata.num_rows
        aln = read_parquet_dir(self.outputs["alignments"])
        cov = read_parquet_dir(self.outputs["coverage"])
        bam = load_bam(spark, self.outputs["bam"]).df.select(*self.BAM_COLUMNS).toArrow()
        con = duckdb.connect()
        con.register("aln", aln)
        con.register("cov", cov)
        # single-end reads: a duplicate is every read but one per
        # (library, contig, 5' unclipped position, strand)
        want_dups = con.execute(
            f"""SELECT count(*) - count(DISTINCT (library, contig,
                  CASE WHEN neg THEN start + ref_len ELSE start - lead_clip END, neg))
                FROM '{truth}'"""
        ).fetchone()[0]
        got_dups, mapped_bases = con.execute(
            "SELECT sum(CASE WHEN duplicateRead THEN 1 ELSE 0 END), sum(\"end\" - start) "
            "FROM aln WHERE readMapped"
        ).fetchone()
        cov_total = con.execute('SELECT sum(("end" - start) * count) FROM cov').fetchone()[0]
        aln_bam_digest = digest_table(aln, self.BAM_COLUMNS)
        checks = [
            ("reads.parquet", aln.num_rows == n_reads, f"{aln.num_rows} rows, {n_reads} generated"),
            ("reads.bam", bam.num_rows == n_reads, f"{bam.num_rows} rows, {n_reads} generated"),
            ("duplicates", got_dups == want_dups, f"{got_dups} marked, closed form {want_dups}"),
            ("bam_roundtrip", digest_table(bam, self.BAM_COLUMNS) == aln_bam_digest,
             "BAM re-load digest vs parquet digest"),
            ("coverage_total", cov_total == mapped_bases, f"{cov_total} vs {mapped_bases}"),
        ]
        digests = {"alignments": digest_table(aln), "coverage": digest_table(cov),
                   "bam": aln_bam_digest}
        return checks + _check_digests(self.name, digests, seed)

    def stage_count_ok(self, stage: str, n: int) -> bool:
        """Every read stage keeps every read; coverage is not a read set."""
        if stage == "operators.coverage":
            return n > 0
        return n == pq.ParquetFile(self.truth).metadata.num_rows


# -- query_mix -------------------------------------------------------------------

#: Contract queries, read-only and short: on a 4-core VM about 60% of a
#: sweep's wall lies outside Spark jobs (driver, Catalyst, scheduling).
#: The first two are relational: q1, the historical headline query, and
#: interval_join_inner, the relational query of the headline/extended
#: set with the largest share of its wall outside jobs (0.78), leaving
#: out mark_duplicates_orders, whose operator genomics_pipeline measures.
#: Each of the last six is the contract's exercise of one
#: ``adam_spark.llm`` operator family, see LLM_QUERIES.
MIX = [
    "q1_pricing_summary", "interval_join_inner",
    "gopher_quality_docs", "dedup_minhash_docs", "bloom_decontaminate_docs",
    "quality_classifier_docs", "sample_mixture_docs", "pack_sequences_docs",
]
#: the llm layer each LLM query exercises (the query calls that layer's
#: public functions and little else)
LLM_QUERIES = {
    "gopher_quality": "gopher_quality_docs",
    "minhash_dedup": "dedup_minhash_docs",
    "bloom_decontaminate": "bloom_decontaminate_docs",
    "classifier": "quality_classifier_docs",
    "sample_mixture": "sample_mixture_docs",
    "pack_sequences": "pack_sequences_docs",
}


class QueryMix(Workload):
    """Contract queries in a seeded order, one at a time (a closed-loop
    client), each materialized through the no-op sink. A measured pass is
    at least ``SWEEPS`` full sweeps and continues, query by query, until
    the deadline (the warm-up pass, without one, is a single sweep);
    ``wall_s`` sums each query's best latency."""

    name = "query_mix"
    #: one sweep per run spread 0.25 (IQR/median) over ten seeds on a
    #: 4-core VM whose speed drifts; best-of-two per query is steadier,
    #: and best-of-three was no steadier than two (the rest is drift
    #: between runs)
    SWEEPS = 2

    def prepare(self, seed: int) -> None:
        d = os.path.join(self.root, "inputs", self.name, "tables")
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            gen.write_tables(d + ".tmp")
            os.replace(d + ".tmp", d)
        self.inputs = d
        self.order = random.Random(seed).sample(MIX, len(MIX))

    def run_pass(self, spark, t, deadline: float | None = None):
        import __spark_entry__ as entry

        qs = entry.queries()
        for i in itertools.count():
            sweeps = 1 if deadline is None else self.SWEEPS
            if i >= sweeps * len(self.order) and (
                deadline is None or time.perf_counter() >= deadline
            ):
                break
            name = self.order[i % len(self.order)]
            with t.span(f"query.{name}"):
                with t.span("driver.build"):
                    df = qs[name](spark, self.inputs)
                with t.span("driver.action"):
                    n = noop(df)
            self.counts.setdefault(name, set()).add(n)
        return []

    def check(self, spark, seed: int):
        pinned = expected().get(self.name, {}).get("rows", {})
        checks = [
            (f"rows.{name}", self.counts.get(name) == {pinned.get(name)},
             f"got {sorted(self.counts.get(name, []))}, pinned {pinned.get(name)}")
            for name in MIX
        ]
        digests = {}
        if seed == DEFAULT_SEED:
            import __spark_entry__ as entry

            qs = entry.queries()
            digests = {n: digest_table(qs[n](spark, self.inputs).toArrow()) for n in MIX}
        return checks + _check_digests(self.name, digests, seed)

WORKLOADS = {w.name: w for w in (GenomicsPipeline, QueryMix)}
