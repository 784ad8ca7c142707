"""Streaming Bloom-set maintenance + decontamination admission gate.

The one-shot form (`operators/curation.decontaminate_bloom`) builds the
benchmark's Bloom BIT SET in the same job that scans the corpus. At 100 TB
the benchmark/blocklist is itself a feed — eval sets are added over time —
so the bit set must be MAINTAINED: each micro-batch of benchmark documents
contributes its shingles' bit positions, merged into a stored bit table.

The Bloom bit set is a mergeable sketch in the same sense as the HLL
registers (`streaming/sketch_maintenance.py`): the filter of a union is
the bitwise OR of the filters, and in the relational encoding (one row per
SET bit) that OR is `UNION ... DISTINCT` — associative, commutative, and
IDEMPOTENT. The bit table is model-sized, so it is base per batch on its
ledger (`compaction.py`): batch b ORs its bits onto base `b{b}` and writes
base `b{b+1}`, and `compaction.ledger_step` makes a replayed batch whose
base landed run nothing.

Equivalence contract (pinned in `tests/test_streaming_bloom.py`): the
maintained set after N micro-batches is row-identical to the one-shot set
over the union of the batches, and admission against the maintained set is
row-identical to `decontaminate_bloom`'s candidate stage — proven under
the driver hash by `streaming_bloom_admission_documents`, whose DuckDB
oracle replays the one-shot filter bit-for-bit.

Admission semantics: a document is ADMITTED iff none of its shingles
passes the full n_seeds-bit membership test. Bloom false positives can
only over-reject (quarantine a clean doc for exact re-check downstream),
never under-reject — the safe direction for decontamination.

At 100 TB: the stored state is ≤ min(n_seeds·|benchmark shingles|, m_bits)
bigint rows (≤ m_bits rows ~ 8 MB at 2^20 regardless of benchmark growth);
each micro-batch merge shuffles only that state; the corpus-side admission
is one broadcast join of the bit table — the corpus never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.curation import bloom_bit
from ..operators.dedup import distinct_shingle_table
from .compaction import ledger_step, read_merged, write_base
from .versions import run_foreach_batch

M_BITS_DEFAULT = 1 << 20
N_SEEDS_DEFAULT = 4


def batch_bloom_bits(benchmark: DataFrame,
                     m_bits: int = M_BITS_DEFAULT) -> DataFrame:
    """One benchmark slice's Bloom contribution: the DISTINCT `bit`
    positions its 3-token shingles set. Output is the relational bit-set
    encoding shared with `decontaminate_bloom` — mergeable across slices
    by UNION DISTINCT."""
    sh = distinct_shingle_table(benchmark).select("sh").distinct()
    return sh.select(
        F.explode(F.array(*[bloom_bit(F.col("sh"), i, m_bits)
                            for i in range(N_SEEDS_DEFAULT)])).alias("bit")
    ).distinct()


def streaming_bloom_maintain(
    bench_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    m_bits: int = M_BITS_DEFAULT,
) -> None:
    """Run the benchmark stream to completion (availableNow — static test
    input), maintaining the Bloom bit-set table under `target_dir` as one
    ledger base per batch. Merge = UNION DISTINCT of bit rows (the
    relational bitwise OR)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step() -> None:
            bits = batch_bloom_bits(batch, m_bits)
            if batch_id:
                bits = read_merged(batch.sparkSession, target_dir, ["bit"],
                                   as_of=batch_id) \
                    .unionByName(bits).distinct()
            write_base(bits, target_dir, batch_id + 1)

        ledger_step([target_dir], batch_id, step)

    run_foreach_batch(bench_stream, _apply, checkpoint_dir)


def read_bloom_bits(spark, target_dir: str) -> DataFrame:
    """The maintained bit set's latest base — one `bit` column."""
    return read_merged(spark, target_dir, ["bit"])


def bloom_admission(docs: DataFrame, bits: DataFrame) -> DataFrame:
    """(id, n_bloom_candidates, admitted) against a maintained set of
    `M_BITS_DEFAULT` bits: a shingle is a candidate iff ALL n_seeds of its
    positions are present (the counting-HAVING form of the all-bits test,
    exactly `decontaminate_bloom`'s prefilter); a document is admitted iff
    it has zero candidates. The bit table broadcasts (≤ `M_BITS_DEFAULT`
    rows); the corpus never shuffles payloads, only (id, shingle) keys into
    the per-shingle count."""
    doc_sh = distinct_shingle_table(docs)
    sh_bits = doc_sh.select(
        "doc_id", "sh",
        F.posexplode(F.array(*[bloom_bit(F.col("sh"), i, M_BITS_DEFAULT)
                               for i in range(N_SEEDS_DEFAULT)]))
        .alias("i", "bit"),
    )
    cand = (
        sh_bits.join(F.broadcast(bits.select("bit")), "bit")
        .groupBy("doc_id", "sh")
        .agg(F.countDistinct("i").alias("_nb"))
        .filter(F.col("_nb") == N_SEEDS_DEFAULT)
    )
    counts = cand.groupBy("doc_id").agg(
        F.count("*").alias("n_bloom_candidates"))
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bloom_candidates", F.lit(0))
            .alias("n_bloom_candidates"),
            (F.coalesce("n_bloom_candidates", F.lit(0)) == 0)
            .alias("admitted"),
        )
    )
