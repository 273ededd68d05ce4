"""The assembly pipeline (reference operators R4-R7) as Spark DataFrame ops.

The reference (assembly_final.cpp) runs three synchronous GraphLab GAS
vertex programs in sequence:

  phase 1  ``exempt_reads_program``   (assembly_final.cpp:155-182)
  phase 2  ``find_max_children``      (assembly_final.cpp:251-325)
  phase 3  ``merge``                  (assembly_final.cpp:402-624)

This module re-expresses each phase as declarative DataFrame algebra —
no vertex programs, no supersteps, no signals:

  phase 1 → one left join + boolean projection        (``flag_valid``)
  phase 2 → one aggregate with ``max_by``             (``best_child``)
  phase 3 → pointer-doubling path extraction (O(log L) joins) + a single
            ordered higher-order-function fold        (``extract_path`` +
            ``merge_path``)

Scale notes (100 TB design): every join projects only the columns it
needs (mirroring the reference's slim gather accumulators,
assembly_final.cpp:186-224/330-396); the doubling loop localCheckpoints
each round to cut lineage; the fold materializes one path's content on a
single row, which is fine up to ~hundreds of MB of sequence — beyond
that, ``merge_path_pairwise`` does log2(L) rounds of pairwise interval
merges with no single-row blowup.

Semantics pinned per SURVEY.md §2.A "faithful-semantics notes":
  * ``valid`` is a derived *output* column with the intended semantics
    (dead-end + not-best-child invalidation); like the reference
    (signal_all at :722/:732), it does not gate phases 2-3.
  * argmax tie-break: highest score, then lowest dst id (the reference's
    gather-order tie-break at :302 is nondeterministic).
  * the merge fold runs in path order (the reference's parent-resignal
    fixpoint, :602-619, converges to exactly this left fold).
  * bit_compat=True reproduces case A3's fixed 1-base-overlap assumption
    (assembly_final.cpp:503-517); bit_compat=False (default) uses the
    intended overlap-trim math, consistent with cases B/C/D.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatagenomic_spark.operators.graph import fixpoint
from bigdatagenomic_spark.sources.local import local_frame

PATH_SCHEMA = "pos LONG, read_id LONG"


# ---------------------------------------------------------------------------
# phase 1 — R4: dead-end invalidation (exempt_reads_program)
# ---------------------------------------------------------------------------

def _replacing(df: DataFrame, **new: Column) -> list[Column]:
    """``df``'s columns in order, each name in ``new`` replaced in place
    by its expression and the rest of ``new`` appended — the layout a
    chain of ``withColumn`` calls gives, as one ``select`` list."""
    out = [new.pop(c).alias(c) if c in new else df[c] for c in df.columns]
    return out + [e.alias(c) for c, e in new.items()]


def out_degrees(edges: DataFrame) -> DataFrame:
    """Out-degree per source vertex. edges: (src, dst)."""
    return edges.groupBy("src").agg(F.expr("count(*) AS out_degree"))


def flag_valid(reads: DataFrame, edges: DataFrame, destination: int) -> DataFrame:
    """R4: ``valid = out_degree > 0 OR read_id == destination``.

    Reference rule at assembly_final.cpp:174-176: a vertex with no
    out-edges that is not the destination is a dead end. One left join
    against the out-degree aggregate + one projection; the degree side
    is map-side combined by Spark's partial aggregation, and AQE will
    broadcast it when small. Output: reads' columns + ``valid``.
    """
    deg = out_degrees(edges)
    valid = F.expr(f"coalesce(out_degree, 0) > 0 OR read_id = {int(destination)}")
    return reads.join(deg, reads["read_id"] == deg["src"], "left").select(
        *_replacing(reads, valid=valid)
    )


# ---------------------------------------------------------------------------
# phase 2 — R5/R6: per-vertex best-scoring successor (find_max_children)
# ---------------------------------------------------------------------------

def best_child(reads: DataFrame, edges: DataFrame) -> DataFrame:
    """R5: for each vertex, pick the out-neighbor with the max score.

    Reference: gather (id, score) over OUT_EDGES (assembly_final.cpp:
    264-272) then an argmax loop in apply (:298-309). Here: join the edge
    list with a 2-column projection of reads (the reference's
    ``id_and_score`` accumulator carries exactly these 2 of 8 fields,
    :186-224) and take ``max_by`` with a deterministic tie-break
    (highest score, then lowest dst id — the struct ordering value is
    unique per src, so the aggregate is deterministic).

    Returns (src, next_id). Vertices with no out-edges are absent; the
    caller fills ``next_id = 0`` (the reference's leaf sentinel, :283-288
    and init at :101).
    """
    scores = reads.selectExpr("read_id AS dst", "score")
    cand = edges.join(scores, "dst")
    return cand.groupBy("src").agg(
        F.expr("max_by(dst, named_struct('score', score, 'neg_dst', -dst)) AS next_id")
    )


def with_next_id(reads: DataFrame, edges: DataFrame) -> DataFrame:
    """Annotate reads with the chosen ``next_id`` (0 = leaf/none)."""
    return _attach_next(reads, best_child(reads, edges))


def _attach_next(reads: DataFrame, best: DataFrame) -> DataFrame:
    """``reads`` + ``next_id`` from a :func:`best_child` table."""
    return reads.join(best, reads["read_id"] == best["src"], "left").select(
        *_replacing(reads, next_id=F.expr("coalesce(next_id, 0)"))
    )


def scatter_invalidation(reads_with_next: DataFrame, edges: DataFrame) -> DataFrame:
    """R6 (intended semantics): un-chosen children become ``valid=false``.

    The reference's scatter (assembly_final.cpp:316-324) meant to mark
    every out-neighbor that is not the argmax invalid; a swapped-args
    constructor bug (:317, ctor :232) made the message id garbage, and
    ``valid`` is never read downstream anyway. We implement the intended
    rule as an aggregate over edges: a vertex stays valid only if it is
    the chosen child of at least one parent, is a chain head (no
    in-edges), or was already invalid-exempt. Output column only.
    """
    chosen = reads_with_next.selectExpr("read_id AS p_id", "next_id AS p_next")
    # for each child: was it chosen by ANY parent pointing at it?
    child_status = (
        edges.join(chosen, edges["src"] == chosen["p_id"])
        .groupBy("dst")
        .agg(F.expr("max(CAST(dst = p_next AS INT)) AS chosen"))
    )
    valid = F.expr("valid AND (chosen IS NULL OR chosen = 1)")
    return reads_with_next.join(
        child_status, reads_with_next["read_id"] == child_status["dst"], "left"
    ).select(*_replacing(reads_with_next, valid=valid))


# ---------------------------------------------------------------------------
# phase 3a — path extraction along next_id (functional-graph walk)
# ---------------------------------------------------------------------------

DRIVER_WALK_ENTRY_BYTES = 90   # measured CPython dict-entry footprint for
                               # a (boxed long -> boxed long) pair incl. slots
DRIVER_WALK_MEM_FRACTION = 16  # walk map may use at most 1/16 of driver heap
DRIVER_WALK_TIME_CAP_ROWS = 20_000_000  # measured walk/doubling crossover
                               # (SCALING.md path-extraction sweep: walk's
                               # per-row driver cost ~7.8 us/row overtakes
                               # pointer doubling around ~20M rows)
PATH_MAX_ROUNDS = 40           # doubling / pairwise-merge rounds: paths up
                               # to 2^39 reads converge within the cap


def _driver_mem_bytes(spark) -> int:
    """Parse ``spark.driver.memory`` (default 1g when unset)."""
    raw = str(spark.conf.get("spark.driver.memory", "1g")).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)


def driver_walk_row_budget(spark, bytes_budget: int | None = None) -> int:
    """Max successor-table rows the driver-walk strategy may collect.

    TWO bounds, the tighter governs (VERDICT r5 #4 + r7 #8):

    * **memory** — 1/DRIVER_WALK_MEM_FRACTION of ``spark.driver.memory``
      divided by the ~90 B a (vid -> succ) dict entry costs in CPython.
      A 4 GiB driver thus walks up to ~3M rows; a 1 GiB driver ~745k —
      the same "fits comfortably in one node's memory" regime where
      Spark would broadcast, scaled to the actual heap.
    * **time** — ``DRIVER_WALK_TIME_CAP_ROWS``: the walk is a SERIAL
      per-row driver loop (Arrow collect + dict walk + local_frame),
      and SCALING.md's path-extraction sweep measured its crossover
      against the distributed pointer-doubling path at ~20M rows. On a
      big driver (128 GiB -> ~95M memory-budget rows) memory alone
      would pick the slower strategy in the 20-95M band, so the
      measured crossover caps the budget regardless of heap.
    """
    if bytes_budget is None:
        bytes_budget = _driver_mem_bytes(spark) // DRIVER_WALK_MEM_FRACTION
    return min(
        max(1, bytes_budget // DRIVER_WALK_ENTRY_BYTES),
        DRIVER_WALK_TIME_CAP_ROWS,
    )


def extract_path(
    reads_with_next: DataFrame,
    source: int,
    driver_walk_threshold: int | None = None,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Extract the ``next_id`` chain from ``source`` as (pos, read_id).

    The reference never materializes the path — its merge program
    re-signals parents until fixpoint (O(path length) supersteps,
    assembly_final.cpp:602-619). We extract the path explicitly, with an
    adaptive physical strategy (same spirit as broadcast-vs-shuffle join
    selection):

    * **small successor table** (row count ≤ the byte-derived budget of
      :func:`driver_walk_row_budget`, overridable via
      ``driver_walk_threshold`` — the same "fits in one node's memory"
      regime where Spark would broadcast it): collect the (vid → succ)
      map and walk the chain driver-side in O(L); one job instead of
      O(log L) shuffle rounds.
    * **large graph**: **pointer doubling** — maintain P = the first 2^k
      path positions and T = the 2^k-step successor table; each round
      appends T-shifted copies of P and squares T. O(log L) shuffles
      instead of O(L) supersteps — 17 rounds, not 100k, for a 100k-long
      chain; ``localCheckpoint`` each round cuts lineage. More than
      ``PATH_MAX_ROUNDS`` rounds raise.

    ``next_id == 0`` (or null) is the leaf sentinel (assembly_final.cpp:
    101). Cycles are cut by keeping the minimum position per vertex and
    stopping when no new vertex joins the path.
    """
    spark = reads_with_next.sparkSession
    if driver_walk_threshold is None:
        driver_walk_threshold = driver_walk_row_budget(spark)
    succ = reads_with_next.selectExpr("read_id AS v", "next_id AS s").where(
        "s IS NOT NULL AND s != 0"
    )

    # strategy pick needs only an UPPER BOUND on the successor count; a
    # caller that already knows its row count (the pipeline counts reads
    # at load) passes it as the hint and saves this extra job. The bound
    # can only over-estimate, i.e. err toward pointer doubling — never
    # toward collecting too much to the driver.
    n_succ = n_rows_hint if n_rows_hint is not None else succ.count()
    if n_succ <= driver_walk_threshold:
        tbl = succ.toArrow()
        nxt = dict(zip(tbl.column("v").to_pylist(), tbl.column("s").to_pylist()))
        order: list[tuple[int, int]] = []
        seen: set[int] = set()
        v = source
        while v is not None and v not in seen:
            order.append((len(order), v))
            seen.add(v)
            v = nxt.get(v)
        return local_frame(spark, order, PATH_SCHEMA)

    def double(state):
        path, t, hop = state
        # extend: every known position pos(v) spawns pos + hop at T(v);
        # _known rides along so the probe is a filter, not a count
        shifted = path.join(t, path["read_id"] == t["v"]).selectExpr(
            f"pos + {hop} AS pos", "s AS read_id", "false AS _known"
        )
        new_path = (
            path.selectExpr("pos", "read_id", "true AS _known")
            .unionByName(shifted)
            .groupBy("read_id")
            .agg(F.expr("min(pos) AS pos"), F.expr("max(_known) AS _known"))
        ).localCheckpoint(eager=True)

        def advance():
            # square T: 2^k-step ∘ 2^k-step = 2^(k+1)-step
            t2 = t.select(F.col("v").alias("v2"), F.col("s").alias("mid"))
            t_sq = t2.join(t, t2["mid"] == t["v"]).select(F.col("v2").alias("v"), "s")
            return new_path.select("pos", "read_id"), t_sq.localCheckpoint(eager=True), hop * 2

        return new_path.where("NOT _known"), advance

    # T starts as the pinned 1-step successor table; the path seed is a
    # local relation, which has no lineage to cut and needs no pin
    seed = local_frame(spark, [(0, source)], PATH_SCHEMA), succ.localCheckpoint(eager=True), 1
    (path, _, _), _ = fixpoint(seed, double, PATH_MAX_ROUNDS, "extract_path doubling")
    return path.orderBy("pos")


# ---------------------------------------------------------------------------
# phase 3b — the ordered merge fold (R7, cases A1/A2/A3/B/C/D)
# ---------------------------------------------------------------------------

# The reference's interval-merge case analysis, one row per case in
# evaluation order: (case, condition, new length, new content). acc is
# the accumulated interval, x the next read on the path; both are structs
# (offset, length, content). Interval ends are *inclusive*
# (``offset + length - 1``), matching every comparison in
# assembly_final.cpp:469-595 (the stored ``end = offset + length`` of
# :100 is never consulted by the merge).
#
#   A1 :473-487  next entirely before acc (gap >= 0) -> prepend + 'N' pad
#   A2 :489-501  next covers acc -> replace
#   A3 :503-517  next starts before, ends inside -> prepend prefix
#                ({a3}: the reference always trims exactly 1 overlap base
#                under bit_compat, x.length - 1; default: trim the true
#                overlap width, acc.offset - x.offset)
#   B  :520-556  next starts inside acc: append the non-overlapped suffix
#                if it extends past acc (B suffix skips the first e+1-on
#                overlapped bases, reference substr pos
#                cur_offset+cur_length-offset_n, :541-542), else no-op
#                (:529-530)
#   C  :558-569  next starts at acc's last base (1-base overlap)
#   D  :571-595  next starts past acc's end (gap >= 0) -> append + pad
_E = "(acc.offset + acc.length - 1)"   # inclusive end of acc
_EN = "(x.offset + x.length - 1)"      # inclusive end of next read
_GAP_BEFORE = "(acc.offset - x.offset - x.length)"
_GAP_AFTER = "(x.offset - acc.offset - acc.length)"
_MERGE_CASES = (
    ("A1", "x.offset + x.length <= acc.offset",
     f"acc.length + {_GAP_BEFORE} + x.length",
     f"concat(x.content, repeat('N', {_GAP_BEFORE}), acc.content)"),
    ("A2", f"x.offset < acc.offset AND {_EN} > {_E}",
     "x.length",
     "x.content"),
    ("A3", "x.offset < acc.offset",
     "acc.length + {a3}",
     "concat(substring(x.content, 1, {a3}), acc.content)"),
    ("B-ext", f"x.offset >= acc.offset AND x.offset < {_E} AND {_EN} > {_E}",
     f"acc.length + ({_EN} - {_E})",
     f"concat(acc.content, substring(x.content, {_E} - x.offset + 2, {_EN} - {_E}))"),
    ("B", f"x.offset >= acc.offset AND x.offset < {_E}",
     "acc.length",
     "acc.content"),
    ("C", f"x.offset = {_E}",
     "acc.length + x.length - 1",
     "concat(acc.content, substring(x.content, 2, x.length - 1))"),
    ("D", None,
     f"acc.length + {_GAP_AFTER} + x.length",
     f"concat(acc.content, repeat('N', {_GAP_AFTER}), x.content)"),
)


@functools.cache
def _fold_sql(bit_compat: bool) -> str:
    """The whole merge fold over a position-sorted struct array column
    ``arr`` as one SQL expression: a native higher-order ``aggregate``
    seeded with the first read (``try_element_at``, so an empty array —
    a source that is not a read — folds to one all-null struct rather
    than raising under ANSI mode) and stepping through the rest with
    the case table above. One string per mode, parsed by the JVM in one
    call instead of hundreds of py4j Column calls."""
    a3 = "x.length - 1" if bit_compat else "acc.offset - x.offset"

    def case(col: int) -> str:  # col 2: new length, col 3: new content
        arms = " ".join(f"WHEN {c[1]} THEN {c[col]}" for c in _MERGE_CASES[:-1])
        return f"CASE {arms} ELSE {_MERGE_CASES[-1][col]} END".format(a3=a3)

    first = "try_element_at(arr, 1)"
    return (
        "aggregate(slice(arr, 2, greatest(size(arr) - 1, 0)), "
        f"named_struct('offset', {first}.offset, 'length', {first}.length, "
        f"'content', {first}.content), "
        "(acc, x) -> named_struct("
        "'offset', CASE WHEN x.offset < acc.offset THEN x.offset ELSE acc.offset END, "
        f"'length', {case(2)}, 'content', {case(3)}))"
    )


def _members(path: DataFrame, reads: DataFrame) -> DataFrame:
    """(pos, offset, length, content) of the path's reads. Broadcasts
    the (small) path side, so the big reads table is neither shuffled
    nor collected."""
    return (
        reads.select("read_id", "offset", "length", "content")
        .join(F.broadcast(path), "read_id")
        .select("pos", "offset", "length", "content")
    )


# aggregate: the (pos, offset, length, content) rows as one array in
# path order — the ``arr`` the fold reads
_SORTED_MEMBERS = ("array_sort(collect_list(struct(pos, offset, length, content)))"
                   " AS arr")


def merge_path(
    path: DataFrame,
    reads: DataFrame,
    bit_compat: bool = False,
) -> DataFrame:
    """R7: fold the path's reads, in path order, with the merge rules.

    ``path``: (pos, read_id); ``reads`` must contain (read_id, offset,
    length, content). Returns a single row (offset, length, content).

    The path's rows are aggregated once into a position-sorted struct
    array, then one native higher-order ``aggregate`` folds it in a
    ``select`` — no Python in the loop. ``ArrayAggregate`` is
    ``CodegenFallback``, so the fold itself is interpreted, not
    whole-stage-codegen'd.
    """
    return (
        _members(path, reads)
        .agg(F.expr(_SORTED_MEMBERS))
        .select(F.expr(_fold_sql(bit_compat)).alias("m"))
        .select("m.offset", "m.length", "m.content")
    )


def merge_path_pairwise(
    path: DataFrame,
    reads: DataFrame,
    bit_compat: bool = False,
) -> DataFrame:
    """Scale fallback for R7: log2(L) rounds of pairwise adjacent merges.

    Avoids materializing the whole path on one row: each round merges
    path element 2i with 2i+1 (both already merged intervals), halving
    the row count. Order-equivalent to the sequential fold for
    **forward-extending** chains (every read starts at/after its
    predecessor's start and extends past its end — cases B-ext/C/D),
    which is the shape real alignment chains have. For paths that
    backtrack into already-'N'-padded gaps the sequential fold is
    authoritative (its B'-no-op is not associative) — use ``merge_path``.
    """

    def pair_up(cur: DataFrame):
        # positions stay 0..n-1 (pair = pos div 2), so a row past
        # position 0 means more than one interval is left (a path with
        # gaps only adds no-op rounds on its last row)
        return cur.where(F.col("pos") > 0), lambda: (
            cur.groupBy(F.floor(F.col("pos") / 2).alias("pair"))
            .agg(F.expr(_SORTED_MEMBERS))
            .select(F.col("pair").alias("pos"), F.expr(_fold_sql(bit_compat)).alias("m"))
            .select("pos", "m.offset", "m.length", "m.content")
        ).localCheckpoint(eager=True)

    members = _members(path, reads).localCheckpoint(eager=True)
    cur, _ = fixpoint(members, pair_up, PATH_MAX_ROUNDS, "merge_path_pairwise")
    return cur.select("offset", "length", "content")


# ---------------------------------------------------------------------------
# the full pipeline (reference main, assembly_final.cpp:648-748)
# ---------------------------------------------------------------------------

def assemble(
    reads: DataFrame,
    edges: DataFrame,
    source: int,
    destination: int,
    bit_compat: bool = False,
    n_reads_hint: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run phases 1-3; returns (annotated_reads, assembled).

    ``annotated_reads``: reads + valid + next_id (what the reference's
    writer dumps per vertex, assembly_final.cpp:631-645).
    ``assembled``: single row (offset, length, content) — the source
    vertex's merged sequence (the ``result`` artifact).
    """
    best = best_child(reads, edges)
    flagged = flag_valid(reads, edges, destination)
    annotated = scatter_invalidation(_attach_next(flagged, best), edges)
    # the walk needs only (read_id, next_id) of vertices with a child:
    # best_child's rows, without flag_valid's join or the left join back
    path = extract_path(
        best.selectExpr("src AS read_id", "next_id"), source, n_rows_hint=n_reads_hint
    )
    assembled = merge_path(path, reads, bit_compat=bit_compat)
    return annotated, assembled
