"""SemDeDup — semantic (embedding-space) deduplication.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): cluster the corpus embeddings,
then inside each cluster drop all but one of every group of
semantically near-identical documents (cosine above a threshold).
Unlike MinHash/SimHash (lexical overlap) this catches paraphrases
and re-encodings that share almost no n-grams. Reference analog:
none — brief-side training-data surface.

Determinism contract (both engines replay it exactly):
- clusters are the IVF coarse cells (similarity.py: seed centroids =
  unit vectors of the lowest ids, argmax-dot assignment, lowest-cell
  tie-break);
- within a cell, a vector is DROPPED iff some KEPT vector with a
  lower id has cosine >= threshold with it ("keep the first seen" —
  the deterministic stand-in for SemDeDup's keep-farthest-from-
  centroid rule, which ties on real data). Transitivity is resolved
  greedily by id order exactly like the paper's implementation.

Scale shape: assignment is a zero-shuffle codegen scan; the pairwise
stage self-joins ON THE CELL KEY only, so cost is sum of cell
sizes squared — n_cells is chosen ~sqrt(N) (paper uses ~100k
clusters at web scale) to keep cells bounded, and ``MAX_CELL``
documents the guard: cells larger than it are skipped and counted
rather than allowed to go quadratic (hot-bucket-cap discipline, as
in dedup.py). The cap keeps the worst-case
per-cell pair volume (MAX_CELL²/2 rows, all produced by the ONE task
that owns that cell's join key) at ~2e6 scalar rows — bounded CPU,
bounded memory, nothing collected.

The greedy verdict is computed as a distributed fixed point, never a
per-cell collect: greedy keep-first-by-id is exactly the
lexicographically-first maximal independent set of the duplicate-pair
graph, and that set satisfies a local rule — a vector is KEPT iff
every lower-id neighbour is dropped, DROPPED iff some lower-id
neighbour is kept. Iterating that rule level-wise (Blelloch et al.
2012 show greedy MIS has O(log n) dependence depth w.h.p.) decides a
clique-shaped duplicate group in one round and an id-monotone chain of
depth d in d rounds; every round is one scalar-pair join, so the
pathological mass-duplicate cell (the exact scenario semantic dedup
exists for) costs 2 rounds, not an O(n²) single-row array fold.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_import_spark.operators.similarity import (
    _assign_cells_arrow,
    _seq_dot_matrix,
    ivf_seed_centroids,
)

log = logging.getLogger(__name__)

#: cosine at or above which (rounded to 6 places) two vectors are duplicates
THRESHOLD = 0.95
#: cells with more members pass through un-deduped (read at call time)
MAX_CELL = 2_000


def _cell_pairs_arrow(small: DataFrame, threshold: float) -> DataFrame:
    """(cell, ia, ib) duplicate pairs — candidate cosines from a
    per-cell Arrow kernel, the EXACT ``round(cos, 6) >= threshold``
    verdict from the JVM on those cosines.

    The kernel's cosines are bit-identical to the expression path:
    pairwise dots accumulate over dimensions in ascending order
    (_seq_dot_matrix — the zip_with fold's IEEE sequence), norms are
    the pass-through ``nrm`` column, and the ``na*nb > 0`` guard is
    replayed with the same division. The Python side prefilters with
    a CONSERVATIVE margin (round to 6 decimals moves a value by at
    most 5e-7, the margin is 1e-4) and forwards NaNs, so every pair
    the JVM filter could accept reaches it; the filter itself — the
    only decision — runs on unmodified float64 values in the JVM.
    Cross-length and NULL-vector pairs have NULL cosines in the
    expression path (zip_with null-padding) and are never emitted;
    pairs form within a vector-length group only.
    """
    margin = float(threshold) - 1e-4
    id_type = small.schema["id"].dataType
    schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("ia", id_type),
            T.StructField("ib", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # pairs form WITHIN a vector length only: a cross-length pair
        # zip_with-pads to a NULL dot, so its cosine is NULL in the
        # expression path and the round() filter drops it. NaN-element
        # vectors keep their length and flow through as NaN cosines,
        # which the JVM filter treats as greatest (Spark NaN
        # ordering), same as the expression path.
        empty = pd.DataFrame({"cell": [], "ia": [], "ib": [], "cos": []}).astype(
            {"cell": "int32", "cos": "float64"}
        )
        pdf = pdf[[v is not None for v in pdf["v"]]]
        if len(pdf) < 2:
            return empty
        cell = pdf["cell"].iloc[0]
        outs = [empty]
        for ln, grp in pdf.groupby([len(v) for v in pdf["v"]]):
            if len(grp) < 2:
                continue
            grp = grp.sort_values("id", kind="mergesort")
            ids = grp["id"].to_numpy()
            V = np.stack([np.asarray(v, dtype=np.float64) for v in grp["v"]])
            nrm = grp["nrm"].to_numpy(dtype=np.float64)
            C = _seq_dot_matrix(V, V)
            denom = np.outer(nrm, nrm)
            with np.errstate(divide="ignore", invalid="ignore"):
                # Spark orders NaN greatest, so `NaN > 0` is TRUE in
                # the expression path — a NaN denom takes the division
                # branch (cos = NaN); numpy's NaN > 0 is False, so
                # forward NaN denominators explicitly
                cos = np.where((denom > 0) | np.isnan(denom), C / denom, 0.0)
            iu, ju = np.triu_indices(len(ids), 1)
            cs = cos[iu, ju]
            keep = (cs >= margin) | np.isnan(cs)
            outs.append(
                pd.DataFrame(
                    {
                        "cell": np.full(int(keep.sum()), cell, dtype=np.int32),
                        "ia": ids[iu[keep]],
                        "ib": ids[ju[keep]],
                        "cos": cs[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if len(outs) > 1 else empty

    cand = small.select("cell", "id", "v", "nrm").groupBy("cell").applyInPandas(
        kernel, schema
    )
    return cand.where(F.round(F.col("cos"), 6) >= threshold).select(
        "cell", "ia", "ib"
    )


def _greedy_keepers(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Exact greedy keep-first verdict over a duplicate-pair graph.

    ``pairs``: (ia, ib) with ia < ib (similarity edges); ``nodes``:
    (id). Returns (id, dup_of) for every DROPPED node, dup_of = the
    lowest-id kept neighbour — byte-identical to folding the pairs in
    (ib, ia) order, without ever gathering a cell into one row.

    Fixed-point iteration on a status frame (K kept / D dropped /
    U undecided): a U node with a kept lower neighbour → D; with no
    kept and no undecided lower neighbour → K. Sound by induction and
    complete (the smallest undecided node always decides), so the loop
    terminates in at most the duplicate graph's dependence depth —
    1-2 rounds on real near-duplicate structure. Each round
    materializes only the O(n) status frame (localCheckpoint) and
    re-joins the materialized scalar pair list; ``dup_of`` is
    re-derived exactly at the end (min kept neighbour) so eager drops
    inside the loop can never mint a wrong witness.
    """
    # lazy checkpoints: the first round's materialization job computes
    # pair list + initial status in one pass instead of three separate
    # driver-blocking jobs — the loop body is the only action
    pairs = pairs.select("ia", "ib").localCheckpoint(eager=False)
    targets = pairs.select(F.col("ib").alias("id")).distinct()
    status = nodes.join(targets, "id", "left_anti").select(
        "id", F.lit("K").alias("st")
    ).unionAll(targets.select("id", F.lit("U").alias("st")))
    status = status.localCheckpoint(eager=False)
    # the dependence depth of an id-monotone chain can reach the
    # undecided-node count (each round only advances one level), so a
    # legitimate input must never trip the bound — derive it from the
    # initial U-set size (the count scans the just-materialized pair
    # checkpoint, one cheap job)
    max_rounds = max(64, targets.count())

    for _ in range(max_rounds):
        nbr = (
            pairs.join(
                status.select(F.col("id").alias("ia"), F.col("st").alias("sta")),
                "ia",
            )
            .join(
                status.select(F.col("id").alias("ib"), F.col("st").alias("stb")),
                "ib",
            )
            .where(F.col("stb") == "U")
            .groupBy("ib")
            .agg(
                F.max(F.col("sta") == "K").alias("has_kept"),
                F.max(F.col("sta") == "U").alias("has_und"),
            )
        )
        nxt = status.join(
            nbr.select(F.col("ib").alias("id"), "has_kept", "has_und"),
            "id",
            "left",
        ).select(
            "id",
            F.when(F.col("st") != "U", F.col("st"))
            .when(F.coalesce("has_kept", F.lit(False)), F.lit("D"))
            .when(F.coalesce("has_und", F.lit(False)), F.lit("U"))
            .otherwise(F.lit("K"))
            .alias("st"),
        )
        status = nxt.localCheckpoint(eager=True)
        # checked AFTER the sweep: real duplicate structure decides in
        # 1-2 rounds, and the check on a just-materialized frame is a
        # block scan, not a recompute
        if status.where(F.col("st") == "U").isEmpty():
            break
    else:  # pragma: no cover - depth bound exceeded, not a real graph
        raise RuntimeError(
            f"_greedy_keepers did not converge in {max_rounds} rounds"
        )

    kept = status.where(F.col("st") == "K").select(F.col("id").alias("ia"))
    return (
        pairs.join(kept, "ia")
        .groupBy("ib")
        .agg(F.min("ia").alias("dup_of"))
        .select(F.col("ib").alias("id"), "dup_of")
    )


def semantic_dedup(corpus: DataFrame, n_cells: int = 16) -> DataFrame:
    """Per-document semantic-dedup verdict.

    Output: (id, cell, keep boolean, dup_of nullable id) — ``dup_of``
    is the lowest-id KEPT witness that evicted the row; a duplicate has
    cosine >= ``THRESHOLD``. Cells larger than ``MAX_CELL`` are passed
    through with keep=true (counted by
    callers via the cell sizes; never quadratic).
    """
    # materialize the input projection BEFORE centroid seeding:
    # ivf_seed_centroids takes one pass and the assignment another —
    # without this the (possibly expensive) upstream corpus plan runs
    # twice end-to-end
    base = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    ).localCheckpoint(eager=False)
    centroids = ivf_seed_centroids(base, n_cells, "id", "v")
    # assignment + per-row norm in one Arrow kernel (bit-identical to
    # the argmax-dot/zip_with-dot expression path, whose interpreted
    # higher-order lambdas cost ~5 s at 20k rows — round 7); the norm
    # is computed once per ROW here, not once per pair, with the same
    # IEEE steps the oracle takes
    c = _assign_cells_arrow(base, centroids)
    # materialize the assignment once: the small/big split and the two
    # pair-join sides each re-derive this subplan otherwise, running
    # the argmax-dot centroid scan ~4x (at production scale the
    # assignment table is persisted storage anyway)
    c = c.localCheckpoint(eager=False)
    # the size table is ≤ n_cells rows by construction — collect it
    # and split small/big with a literal filter instead of rebuilding
    # a broadcast join in all four frames that derive from the split
    sizes = c.groupBy("cell").agg(F.count(F.lit(1)).alias("n_cell")).collect()
    big_cells = sorted(r.cell for r in sizes if r.n_cell > MAX_CELL)
    if big_cells:
        log.warning(
            "semantic_dedup: %d cell(s) over MAX_CELL=%d passed through "
            "un-deduped (largest %d members)",
            len(big_cells),
            MAX_CELL,
            max(r.n_cell for r in sizes),
        )
        small = c.where(~F.col("cell").isin(big_cells))
        big = c.where(F.col("cell").isin(big_cells))
    else:
        small, big = c, c.where(F.lit(False))

    pairs = _cell_pairs_arrow(small, THRESHOLD)
    # the cell key never feeds the verdict (cells partition the graph,
    # ids are globally unique) — the fixed point runs cell-oblivious
    dropped = _greedy_keepers(pairs, small.select("id"))

    verdict = (
        small.select("id", "cell")
        .join(dropped, "id", "left")
        .select(
            "id",
            "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )
    passthrough = big.select(
        "id",
        "cell",
        F.lit(True).alias("keep"),
        F.lit(None).cast("long").alias("dup_of"),
    )
    return verdict.unionAll(passthrough).withColumnsRenamed({"id": "vec_id"})
