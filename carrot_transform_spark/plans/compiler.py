"""Rules IR -> DataFrame plan compiler: the query engine core.

One plan per OMOP target table:

    for each (target, source_file) mapping:
      scan (strings + line no)
        -> permissive event-date normalise (F2; rejects counted)
        -> [person target] first-row-per-person dedup (J3)
        -> single-projection record generation:
             per-field value match (J1 exact-beats-wildcard, F1/F5)
             merged across fields for person (later-field-wins)
             clamped-zip combination explode (X1)
             original-value / person-id / date assembly (P1-P3, D1-D4)
           == ONE explode over one SQL record-array expression per block.
           Each field's term map compiles into one of three bands, by
           exact-valued mapping count: a when-chain inlined in the plan
           (< 16 values), element_at over a constant map literal (16-99,
           and every field of a WIDE target), or a broadcast rules-table
           join (100 and up)
      (wide targets: same-shape blocks share ONE template over the union
       of their scans, per-file rules hoisted into a broadcast table)
    union files per target (implicit UNION ALL)
      -> dense auto-number ids in write order (W1, operators/ids.py: one
         window when the bound is small, the bucket path when the bound is
         large, else a sizing count, then one window when small or the
         bucket path over (file, 65,536-line block))
      -> person-map broadcast join (J2; anti-join rejects counted),
         persisted when the ids were sized with a count so that records,
         rejects, metrics and the sink share one materialization

All data-plane values stay strings for byte-parity with the reference's
TSV output. Reference semantics citations are inline; the reference builds
the same records row-at-a-time in
/root/reference/carrottransform/tools/record_builder.py and
orchestrator.py.
"""

from __future__ import annotations

import threading as _threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager as _contextmanager
from dataclasses import dataclass, field as dc_field, replace as dc_replace
from functools import partial, reduce
from operator import and_

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from carrot_transform_spark.functions.dates import (
    normalise_to8601,
    strict_date,
    strict_date_ok,
    strict_date_sql,
    valid_value,
)
from carrot_transform_spark.omop.ddl import OmopSchemas, TableSchema
from carrot_transform_spark.operators.ids import SMALL_THRESHOLD, with_dense_ids
from carrot_transform_spark.rules.ir import RuleSet, TableMapping
from carrot_transform_spark.sources.registry import BUCKET_COL, LINE_COL, Source

SRC_COL = "__ct_src"
FIELD_COL = "__ct_field"
FIELDIDX_COL = "__ct_fieldidx"  # positional index in rules-declaration order
COMBO_COL = "__ct_combo"
FILEIDX_COL = "__ct_fileidx"


@dataclass
class RejectStats:
    """Driver-side reject/input counters feeding the metrics rollup."""

    input_rows: dict[str, int] = dc_field(default_factory=dict)
    date_reject_rows: dict[str, int] = dc_field(default_factory=dict)
    # (srcfile, target, field) -> count of blank-cell rejects
    invalid_source: dict[tuple[str, str, str], int] = dc_field(default_factory=dict)
    # (srcfile, target, field) -> count of strict-date component failures
    invalid_date: dict[tuple[str, str, str], int] = dc_field(default_factory=dict)
    # (srcfile, target) -> count of person-lookup rejects (post-combo records)
    invalid_person: dict[tuple[str, str], int] = dc_field(default_factory=dict)


class CarrotPlanner:
    def __init__(
        self,
        spark: SparkSession,
        rules: RuleSet,
        omop: OmopSchemas,
        person_table: str,
        use_input_person_ids: bool = False,
        last_used_ids: dict[str, int] | None = None,
        group_same_shape: bool = True,
    ):
        self.spark = spark
        self.rules = rules
        self.omop = omop
        self.person_table = person_table
        self.use_input_person_ids = use_input_person_ids
        # WIDE targets: compile ONE record template per same-shape block
        # GROUP (per-block rule literals hoisted into data columns) instead
        # of one giant expression per block — driver compile cost O(shapes),
        # not O(blocks). Disable to force the per-block path (A/B tests).
        self.group_same_shape = group_same_shape
        self.last_used_ids = last_used_ids or {}
        self._counted_files: set[str] = set()
        # normalized-scan memo, shared across targets so each file is
        # scanned+normalised once: (source file, date source field) per
        # block; (file ordinals, date field, columns, components) per
        # same-shape group
        self._norm_cache: dict[tuple, DataFrame] = {}
        # every DataFrame this planner persisted, released via release()
        self._persisted: list[DataFrame] = []
        # deferred metric aggregations, flushed as ONE combined job per
        # source file by flush_metrics() (was: one agg job per
        # (file, target) pair + one reject-count job per target)
        self._pending_aggs: dict[tuple[str, str | None], list[tuple[list[Column], object]]] = {}
        # frame-level metric aggs (run over a target-specific frame instead
        # of the file's cached scan — e.g. the v2 person per-combo
        # invalid_date over the deduped rows), folded into the same
        # one-collect-per-file flush
        self._pending_df_aggs: dict[str, list[tuple[DataFrame, list[Column], object]]] = {}
        # grouped-template metrics: (pre-filter union frame, agg columns,
        # rows-callback) — flushed as ONE groupBy(file ordinal) job per
        # (group, target) instead of one job per source file
        self._pending_group_aggs: list[tuple[DataFrame, list[Column], object]] = []
        self._pending_rejects: list[tuple[DataFrame, RejectStats]] = []
        self._metrics_seq = 0
        self._main_fields_memo: dict[str, tuple[str | None, str | None]] = {}
        # fences the planner's Python bookkeeping (metric sequence numbers,
        # counted-file set, norm-scan memo) when target_candidates builds
        # per-file plans across a thread pool: every mutation that must be
        # observed exactly once — the _pending_* queues and
        # _main_fields_memo/_norm_cache writes — happens under it
        self._compile_lock = _threading.Lock()

    def _file_main_fields(self, src_file: str) -> tuple[str | None, str | None]:
        """The file's MAIN (datetime, person-id) source columns.

        The reference gates/normalises every row of a file on ONE datetime
        column — not each target's own date source.  v2 selection
        (mappingrules.py:216-235): iterate targets in cdm order, take each
        mapping's date/person source (overwriting), stop as soon as both are
        set.  v1 selection (mappingrules.py:237-262): same iteration but
        LAST one wins (no break).  Targets whose own date source differs
        from the main column get the RAW cell copied into their date dests
        (orchestrator.py:141-158 normalises the main column in place;
        record_builder.apply_date_mappings and core.py read each block's own
        column from the mutated row).

        v1 within-target order: the scan walks outdata entries (person
        buckets / non-person blocks) in creation order, fields in data-dict
        insertion order — recorded at parse time as
        TableMapping.v1_date_sources, whose LAST element is the target's
        contribution (a single-source target reduces to
        date_mapping.source_field).
        """
        hit = self._main_fields_memo.get(src_file)
        if hit is not None:
            return hit
        dt: str | None = None
        pid: str | None = None
        for per_source in self.rules.mappings.values():
            tm = per_source.get(src_file)
            if tm is None:
                continue
            if tm.v1_date_sources:
                dt = tm.v1_date_sources[-1]
            elif tm.date_mapping:
                dt = tm.date_mapping.source_field
            if tm.person_id_mapping:
                pid = tm.person_id_mapping.source_field
            if self.rules.dialect == "v2" and dt and pid:
                break
        with self._compile_lock:
            self._main_fields_memo[src_file] = (dt, pid)
        return dt, pid

    def _file_needs_date_components(self, src_file: str) -> bool:
        """Whether ANY target fed by this file can write date-component
        columns (the year/month/day split, D3) — only then do the cached
        __ct_y/__ct_mo/__ct_dd columns have a consumer. A file feeding only
        component-less targets (e.g. an events file mapped to observation)
        otherwise pays three strict-date parses per row at cache
        materialization and caches three dead string columns. Conservative:
        any doubt keeps the columns."""
        try:
            return any(
                bool(self.omop.date_components(t))
                for t in self.rules.targets_for_source(src_file)
            )
        except Exception:
            return True

    def _v2_skips_file(self, src_file: str, df: DataFrame) -> bool:
        """v2 skips the whole FILE when its main date/person sources are
        unresolved (orchestrator.py:85-101: file_meta gate + missing
        datetime column) — no records, no row metrics. v1 has no such
        gate."""
        main_dt, main_pid = self._file_main_fields(src_file)
        return self.rules.dialect == "v2" and (
            main_dt is None or main_pid is None or _try_resolve(df, main_dt) is None
        )

    def _comp_dests(self, tm: TableMapping) -> list[str]:
        """The target's date dests that carry year/month/day components —
        the ones whose strict-date check gates records (D3)."""
        comp = self.omop.date_components(tm.target_table)
        return [
            d for d in (tm.date_mapping.dest_fields if tm.date_mapping else []) if d in comp
        ]

    def _needed_file_columns(self, src_file: str, df: DataFrame) -> list[str] | None:
        """The source columns any target mapping of this file can reference,
        resolved case-insensitively against the header — the projection for
        the per-file normalised cache. Without it every unmapped column
        (wide payloads especially) rides the spread exchange AND the cache.
        Mirrors the grouped-template collector but unions over ALL targets
        of the file (the cache is shared across them) and over the v1
        person-bucket model. Returns None (keep everything) when nothing
        prunes or the walk is uncertain."""
        try:
            names = list(self._file_main_fields(src_file))
            for target in self.rules.targets_for_source(src_file):
                tm = self.rules.mappings[target][src_file]
                names += _mapping_source_columns(tm)
                for b in tm.v1_person_buckets or ():
                    names += [b.key_field, *b.pid_fields, *b.date_fields]
                    for cm in b.concept_mappings.values():
                        names += _cm_source_columns(cm)
                names += tm.person_lookup_sources or ()
                names += tm.v1_date_sources or ()
            keep = {_try_resolve_name(df, n) for n in names if n} - {None}
        except Exception:
            return None
        keep.add(LINE_COL)
        if BUCKET_COL in df.columns:
            keep.add(BUCKET_COL)  # dense-id bucket rider (ids._bucket_dense_ids)
        if len(keep) >= len(df.columns):
            return None
        return [c for c in df.columns if c in keep]

    def release(self) -> None:
        """Unpersist every DataFrame cached by this planner (call after the
        run's outputs are materialized; relying on LRU eviction leaks cache
        across a long session)."""
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted.clear()
        self._norm_cache.clear()

    # ------------------------------------------------------------------
    # person anonymisation map (J2/W2)
    # ------------------------------------------------------------------

    def _spread(
        self, df: DataFrame, source: Source | None = None, table: str | None = None
    ) -> DataFrame:
        """Small single-file scans arrive as one partition; the expensive
        stages downstream (regex normalisation, record structs) are per-row
        compute, so spread first. Safe: the line/order column is assigned at
        read time, before any repartitioning. At real scale multi-split
        scans skip this.

        Split-count discovery, cheapest first: sources that declare
        pre_spread skip everything; sources that can estimate their scan's
        split count from file size (scan_splits) answer driver-side with no
        Spark work; only an unknown source pays the
        df.rdd.getNumPartitions() probe (~1s of plan-to-RDD conversion)."""
        if source is not None and source.pre_spread:
            return df
        target = self.spark.sparkContext.defaultParallelism
        splits = source.scan_splits(table) if source is not None and table else None
        if splits is None:
            splits = df.rdd.getNumPartitions()
        if splits < max(2, target // 2):
            return df.repartition(target)
        return df

    def person_map(self, source: Source) -> DataFrame:
        """source person id -> dense int (1..N in file order) over the person
        FILE, strict dob validation (person_helpers.py:90-151,
        validation.py:13-63). Returns (source_subject, target_subject)."""
        dob_field, pid_field = self.rules.person_source_info("person")
        df = self._spread(source.read(self.person_table), source, self.person_table)
        pid = _resolve(df, pid_field)
        dob = _resolve(df, dob_field)
        valid = df.filter(valid_value(pid) & strict_date_ok(dob))
        first = valid.groupBy(pid.alias("source_subject")).agg(
            F.min(LINE_COL).alias(LINE_COL)
        )
        if self.use_input_person_ids:
            return first.select(
                "source_subject", F.col("source_subject").alias("target_subject"), LINE_COL
            )
        size_bound = source.size_hint(self.person_table)
        # dense-id bucket above the small threshold: 65,536-line blocks (a
        # multiLine CSV file reads as ONE partition: no line >> 33)
        bucket_col: str | Column = F.shiftright(F.col(LINE_COL), 16)
        if size_bound is not None and size_bound > SMALL_THRESHOLD:
            # large person file: derive a deterministic range bucket of the
            # min-line key from the source's footer statistics so dense ids
            # come from the bucket path with no sizing pass instead of
            # persist + count + a single-partition sort of every person
            # (~2.8 s serial at sf10). The one narrow exchange the window
            # inserts replaces the SinglePartition exchange the serial sort
            # needed anyway.
            bounds = source.line_bounds(self.person_table)
            if bounds is not None and bounds[1] > bounds[0]:
                lo, hi = bounds
                k = max(1, (hi - lo) // 65536 + 1)
                bucket_col = "__ct_pm_bucket"
                first = first.withColumn(
                    bucket_col,
                    F.floor((F.col(LINE_COL) - F.lit(lo)) / F.lit(k)).cast("long"),
                )
        withids = with_dense_ids(
            first,
            [LINE_COL],
            "target_subject",
            offset=0,
            persist_registry=self._persisted,
            # distinct persons <= person-file rows; footer metadata makes this
            # free and known-small inputs then skip the sizing pass
            size_bound=size_bound,
            bucket_col=bucket_col,
        )
        return withids.select(
            "source_subject", F.col("target_subject").cast("string").alias("target_subject"), LINE_COL
        )

    # ------------------------------------------------------------------
    # per-target record plans
    # ------------------------------------------------------------------

    def target_candidates(
        self, source: Source, target: str, stats: RejectStats | None = None
    ) -> DataFrame:
        """All candidate output records for a target (before the person-map
        join), with meta columns for ordering and metrics. Auto-number ids
        are assigned here — the reference consumes an id even for records
        later rejected by the person lookup (record_builder.py:149-163)."""
        return self._candidates(source, target, stats)[0]

    def _candidates(
        self, source: Source, target: str, stats: RejectStats | None
    ) -> tuple[DataFrame, bool]:
        """target_candidates, plus whether dense-id assignment sized its
        input with a count, i.e. left the pre-id candidates persisted."""
        schema = self.omop.table(target)
        per_source = self.rules.mappings[target]
        # FILEIDX follows the reference's GLOBAL input-file iteration order
        # (mappingrules._get_all_infile_names_v2: target-major first
        # appearance), not the per-target rules order — auto-number ids and
        # row order must match even when the two orders differ
        global_files = self.rules.source_tables()
        # wide-target compile strategy: past this many (field, value) pairs
        # across all source blocks, every term-map field uses the per-FIELD
        # maplit/joined record builder instead of per-(field, value)
        # when-chain arrays — the plan stays |values|x smaller and builds
        # in O(fields) py4j round trips (the 50x20 compile-budget shape)
        total_pairs = sum(
            len(_exact_rules(cm))
            for tm in per_source.values()
            for cm in tm.concept_mappings.values()
        )
        # decided per call, not stored on the planner: targets build
        # concurrently (pipeline.run_transform)
        wide = total_pairs >= self.WIDE_PLAN_PAIRS
        # source reads + spread decisions stay sequential within a target
        # (cheap; run_transform builds targets concurrently, so a Source's
        # read must be thread-safe); the expensive per-file plan construction —
        # the JVM-side parse of each block's record-array SQL plus its
        # analysis — runs across a thread pool: py4j's clientserver gives
        # each Python thread its own JVM connection, so parse/analysis
        # parallelizes (50-block x 20-field compile: ~21 s sequential ->
        # ~8 s threaded; the Python bookkeeping races are fenced by
        # _compile_lock inside _file_records)
        inputs: list[tuple[str, TableMapping, DataFrame]] = [
            (
                src_file,
                tm,
                self._spread(source.read(tm.source_table), source, tm.source_table),
            )
            for src_file, tm in per_source.items()
        ]
        cand_bound: int | None = 0
        for src_file, tm, _df in inputs:
            if cand_bound is not None:
                hint = source.size_hint(tm.source_table)
                cand_bound = None if hint is None else cand_bound + hint * _records_per_row_bound(tm)

        # same-shape grouping (WIDE targets only — exactly where per-block
        # compile cost blows up): blocks with equal shape signatures share
        # ONE compiled record template over the union of their scans. The
        # rest take the per-block path below.
        grouped_parts: list[DataFrame] = []
        if self.group_same_shape and wide and len(inputs) > 2:
            sig_groups: dict[object, list[int]] = {}
            for idx, (src_file, tm, df) in enumerate(inputs):
                sig = self._group_signature(src_file, tm, df)
                if sig is not None:
                    sig_groups.setdefault(sig, []).append(idx)
            grouped_idx: set[int] = set()
            for sig, idxs in sig_groups.items():
                if len(idxs) < 2:
                    continue
                gitems = [
                    (
                        inputs[i][0],
                        inputs[i][1],
                        inputs[i][2],
                        global_files.index(inputs[i][0]),
                    )
                    for i in idxs
                ]
                part = self._grouped_file_records(gitems, schema, stats)
                part.schema
                grouped_parts.append(part)
                grouped_idx.update(idxs)
            inputs = [it for i, it in enumerate(inputs) if i not in grouped_idx]

        # single-block targets whose source carries the deterministic line
        # bucket keep it as a meta rider so dense-id assignment can take
        # the zero-shuffle bucket path (ids._bucket_dense_ids). Multi-part
        # targets skip it: the positional union requires every part to end
        # in the identical select, and grouped/person parts don't emit it.
        use_bucket = (
            not grouped_parts
            and len(inputs) == 1
            and target != "person"
            and BUCKET_COL in inputs[0][2].columns
        )

        def build(item: tuple[str, TableMapping, DataFrame]) -> DataFrame:
            src_file, tm, df = item
            # Drift tripwire (see _try_resolve_name): within this file's
            # compile, a resolve MISS on a column the cache projection
            # dropped is a hard error — the collector and the compile-side
            # enumeration diverged. Misses on never-existed columns stay
            # silent (reference semantics), and pre-prune resolves against
            # the unprojected df can never trigger it (a dropped name always
            # HITS the unprojected header).
            proj = self._needed_file_columns(src_file, df)
            dropped = (
                frozenset(c.lower() for c in df.columns if c not in set(proj))
                if proj is not None
                else None
            )
            with _pruned_columns_guard(dropped):
                part = self._file_records(
                    df, tm, schema, stats, fileidx=global_files.index(src_file),
                    keep_bucket=use_bucket, wide=wide,
                )
            part.schema  # force analysis inside the worker thread
            return part

        parts = grouped_parts + _thread_map(build, inputs, 3)
        if not parts:
            # every block landed in a group (or there were none): grouped
            # parts always exist when inputs did, so this is unreachable
            # unless the target had no mappings at all
            raise ValueError(f"no mapping blocks for target {target!r}")
        # positional union is safe: every part ends in the same final
        # select, so column order is identical by construction
        out = _union_tree(parts)
        sized = out
        auto_col = self.omop.auto_number_col(target)
        if auto_col and auto_col in schema.columns:
            # FIELDIDX (declaration-order ordinal), NOT the field name: the
            # reference iterates data columns in concept_mappings order, so a
            # lexicographic field sort would diverge whenever declaration
            # order isn't alphabetical. Without the rider, the bucket is the
            # (file, 65,536-line block) of the meta columns.
            block = F.shiftleft(F.col(FILEIDX_COL).cast("long"), 47).bitwiseOR(
                F.shiftright(F.col(LINE_COL), 16)
            )
            out = with_dense_ids(
                out,
                [FILEIDX_COL, LINE_COL, FIELDIDX_COL, COMBO_COL],
                "__ct_auto",
                offset=self.last_used_ids.get(target, 0),
                persist_registry=self._persisted,
                size_bound=cand_bound,
                bucket_col=BUCKET_COL if use_bucket else block,
            )
            out = out.withColumn(auto_col, F.col("__ct_auto").cast("string")).drop("__ct_auto")
        if use_bucket:
            out = out.drop(BUCKET_COL)
        # with_dense_ids keeps the very DataFrame it was given persisted
        # whenever it counts it: the flag is set exactly then
        return out, sized.is_cached

    def target_records(
        self,
        source: Source,
        target: str,
        person_map: DataFrame,
        stats: RejectStats | None = None,
    ) -> DataFrame:
        """Final records: person ids mapped via broadcast join; rejects
        counted into stats (run.py:275-299 semantics).

        When dense ids sized their input with a count (no footer bound;
        CSV sources at any size), the person-joined frame is persisted: the
        kept records, the reject counts, the output metrics and the sink
        then all read that one cache, and none of them re-runs the id
        window or the person join. The footer-sized id paths get no cache
        of their own."""
        person_col = self.omop.person_col(target)
        cand, sized = self._candidates(source, target, stats)
        pmap = F.broadcast(person_map.select("source_subject", "target_subject"))
        joined = cand.join(pmap, cand[person_col] == pmap.source_subject, "left")
        if sized:
            joined = joined.persist()
            self._persisted.append(joined)
        kept = joined.filter(F.col("target_subject").isNotNull()).withColumn(
            person_col, F.col("target_subject").cast("string")
        ).drop("source_subject", "target_subject")
        if stats is not None:
            # deferred: flush_metrics() unions every target's reject counts
            # into ONE collect instead of one job per (file, target)
            nulls = joined.filter(F.col("target_subject").isNull())
            # v2 StandardRecordBuilder ABORTS the field's build on the first
            # failed person write (record_builder.py:358-365), so a ghost
            # person counts invalid_person_ids once per (row, data column),
            # not once per combo record. The person builder and all of v1
            # count per record (no abort: record_builder.py:243-248,
            # run.py:290-299).
            n = (
                F.count_distinct(F.col(LINE_COL), F.col(FIELD_COL))
                if self.rules.dialect == "v2" and target != "person"
                else F.count(F.lit(1))
            )
            rej = (
                nulls.groupBy(SRC_COL)
                .agg(n.alias("count"))
                .withColumn("__ct_tgt", F.lit(target))
            )
            with self._compile_lock:
                self._pending_rejects.append((rej, stats))
        return kept

    def flush_metrics(self) -> None:
        """Run every deferred metric aggregation: ONE combined job per
        source file (all (file, target) counter sets over the file's
        cached normalized scan, cross-joined one-row agg frames when
        targets use different date fields) plus ONE job for all
        person-reject counts across every (file, target) pair. Call after
        the last target_records() and before reading the RejectStats."""
        by_file: dict[str, list[tuple[str, str | None]]] = {}
        for cache_key in self._pending_aggs:
            by_file.setdefault(cache_key[0], []).append(cache_key)
        for f in self._pending_df_aggs:
            by_file.setdefault(f, [])
        for src_file, keys in by_file.items():
            pending = [(self._norm_cache[k], self._pending_aggs[k]) for k in keys]
            pending += [
                (dfx, [(cols, resolve)])
                for dfx, cols, resolve in self._pending_df_aggs.get(src_file, [])
            ]
            frames = [frame.agg(*[a for cols, _ in pend for a in cols]) for frame, pend in pending]
            row = reduce(DataFrame.crossJoin, frames).collect()[0]
            for _frame, pend in pending:
                for _, resolve in pend:
                    resolve(row)
        self._pending_aggs.clear()
        self._pending_df_aggs.clear()
        # grouped-template metrics: one groupBy(file ordinal) job per
        # (group, target) — each covers what the per-file path counted in
        # len(group) separate jobs
        for frame, aggs, resolve_rows in self._pending_group_aggs:
            resolve_rows(frame.groupBy("__ct_gfidx").agg(*aggs).collect())
        self._pending_group_aggs.clear()
        by_stats: dict[int, tuple[RejectStats, list[DataFrame]]] = {}
        for frame, stats in self._pending_rejects:
            by_stats.setdefault(id(stats), (stats, []))[1].append(frame)
        for stats, frames in by_stats.values():
            for r in reduce(DataFrame.unionByName, frames).collect():
                key = (r[SRC_COL], r["__ct_tgt"])
                stats.invalid_person[key] = stats.invalid_person.get(key, 0) + r["count"]
        self._pending_rejects.clear()

    # ------------------------------------------------------------------
    # record generation for one (source file, target) pair
    # ------------------------------------------------------------------

    def _norm_scan(
        self,
        key: tuple,
        base: Callable[[], DataFrame],
        date_field: str | None,
        needs_comp: bool,
    ) -> DataFrame:
        """The normalised scan of one source file, or of one same-shape
        group's union of files, memoized under ``key`` and shared across
        targets (``base`` builds the input on a miss).

        The main datetime column is normalised into __ct_norm (NULL: the row
        is date-rejected). Date-derived commons are materialized alongside
        it, so the record generator can reference them BY NAME, which lets
        the whole record-array expression be one parsed SQL string instead
        of tens of thousands of py4j Column round trips
        (_standard_records_col). Caching also stops projection collapse
        from inlining the regex-heavy normalise expression into every struct
        field of the record generator (measured 9s -> ~1s for the record
        explode at sf0.1)."""
        with self._compile_lock:
            scan = self._norm_cache.get(key)
        if scan is not None:
            return scan
        src = base()
        norm = (
            normalise_to8601(_resolve(src, date_field))
            if date_field is not None
            else F.lit(None).cast("string")
        ).alias("__ct_norm")
        d10 = F.substring(F.col("__ct_norm"), 1, 10)
        aux = [d10.alias("__ct_d10")]
        if needs_comp:
            # the y/m/d component columns cost three strict-date parses
            # per row — only materialize them when some target of the
            # file(s) can write date components (guide §1.2 step 1: don't
            # compute what you throw away)
            sd = strict_date(d10)
            aux += [
                F.year(sd).cast("string").alias("__ct_y"),
                F.month(sd).cast("string").alias("__ct_mo"),
                F.dayofmonth(sd).cast("string").alias("__ct_dd"),
            ]
        # ONE select per step — every extra withColumn re-analyzes the
        # whole plan
        scan = src.select("*", norm).select("*", *aux)
        with self._compile_lock:
            # double-checked: a racing thread may have built the same scan —
            # keep the first one so only ONE gets persisted and every target
            # shares it
            existing = self._norm_cache.get(key)
            if existing is not None:
                return existing
            if date_field is not None:
                scan = scan.persist()
                self._persisted.append(scan)
            self._norm_cache[key] = scan
        return scan

    def _claim_row_count(self, src_file: str) -> bool:
        """True for the first (file, target) pair to ask: input and
        date-reject rows are counted once per source FILE, not per (file,
        target) pair (orchestrator.py:136-158 counts at row level before the
        per-target loop)."""
        with self._compile_lock:
            first = src_file not in self._counted_files
            self._counted_files.add(src_file)
        return first

    def _metrics_prefix(self) -> str:
        """A fresh alias prefix for one set of deferred metric aggregations
        (they share flush jobs, so names must not collide)."""
        with self._compile_lock:
            seq = self._metrics_seq
            self._metrics_seq += 1
        return f"__m{seq}"

    def _file_records(
        self,
        df: DataFrame,
        tm: TableMapping,
        schema: TableSchema,
        stats: RejectStats | None,
        fileidx: int = 0,
        keep_bucket: bool = False,
        wide: bool = False,
    ) -> DataFrame:
        target = tm.target_table
        src_file = tm.source_table
        is_person = target == "person"
        # v1 person records come from the consulted person BUCKETS; None on
        # every other path
        chosen = (
            _v1_chosen_buckets(tm) if is_person and self.rules.dialect == "v1" else None
        )

        if self._v2_skips_file(src_file, df):
            return df.limit(0).select(
                *[F.lit("").alias(c) for c in schema.columns],
                F.lit(src_file).alias(SRC_COL),
                F.lit("").alias(FIELD_COL),
                F.lit(0).alias(FIELDIDX_COL),
                F.lit(0).alias(COMBO_COL),
                F.col(LINE_COL),
                F.lit(fileidx).alias(FILEIDX_COL),
                *([F.col(BUCKET_COL)] if keep_bucket else []),
            )
        # F2: permissive row-level date normalisation; invalid rows rejected
        # (orchestrator.py:146-158). The ROW GATE runs on the file's MAIN
        # datetime column (see _file_main_fields), NOT the target's own date
        # source; a target whose date source differs gets the raw cell
        # copied. The normalized scan is cached ONCE per (file, main field)
        # and shared across targets.
        date_field, _ = self._file_main_fields(src_file)
        raw_date_field = _raw_date_source(tm, date_field)
        cache_key = (src_file, date_field)

        def base() -> DataFrame:
            # project the cache to the columns the file's rules can actually
            # reference (guide §2.3: project before the exchange/persist) —
            # the pruning pushes below the spread exchange into the scan, so
            # an unmapped wide payload column costs nothing anywhere
            proj = self._needed_file_columns(src_file, df)
            return df.select(*proj) if proj is not None else df

        raw = self._norm_scan(
            cache_key, base, date_field, self._file_needs_date_components(src_file)
        )
        norm_ok = F.col("__ct_norm").isNotNull() if date_field is not None else F.lit(True)
        strict_ok_col = _strict_for(raw, date_field, raw_date_field)

        def _bucket_date_fields(b) -> list:
            return list(b.date_fields) if b.date_fields else [raw_date_field]

        # ---- metrics: ONE aggregation job per (file, target) computing all
        # row/blank/date counters (was: one .count() job per counter) -------
        comp_dests = self._comp_dests(tm)
        if stats is not None:
            count_fields: list[str] = []
            if not is_person:
                # v1 block mappings may register several blocks per field
                # under synthetic keys, and block companions are data
                # columns too (see _data_columns)
                count_fields = _data_columns(tm)
            elif self.rules.dialect == "v1" and tm.concept_mappings:
                # v1 counts the person target's FIRST data column only
                # (run.py:301-302); v2's person builder never counts blanks
                count_fields = [next(iter(tm.concept_mappings))]
            date_gates: dict[str, tuple] = {}
            # v2 person invalid_date counts once per BUILT COMBO record of
            # the first-wins row (PersonRecordBuilder builds per combo, each
            # failing _apply_date_mappings increments,
            # record_builder.py:241-303) and keys on the triggering data
            # column = the first mapped field present in the header. Needs
            # size(records) over the DEDUPED frame — registered as a
            # frame-level agg after the builder runs (below).
            if comp_dests and not (is_person and self.rules.dialect == "v2"):
                # invalid_date per concept FIELD, gated on the same
                # valid-value + concept-match conditions that would have
                # produced records for that field (reference increments per
                # failing data column only when the build reached date
                # mapping, record_builder.py:92-132)
                by_field: dict[str, list] = {}
                for cm_ in tm.concept_mappings.values():
                    by_field.setdefault(cm_.source_field, []).append(cm_)
                stricts = [strict_ok_col]
                match_all = False
                if is_person and self.rules.dialect == "v1":
                    # v1 person: one increment per consulted BUCKET whose
                    # data maps a date dest, each against ITS OWN date
                    # source's strict check (every bucket's record runs
                    # core.py's date handling on the bucket's own column).
                    # The record build runs for the FIRST datacol only
                    # (run.py breaks after person) and proceeds for ANY
                    # valid value — unmatched terms still reach the
                    # component-date check (core.py:76-95), so the count has
                    # no concept-match gate
                    by_field = dict(list(by_field.items())[:1])
                    match_all = True
                    if chosen is not None:
                        # one increment per FAILING date field per record
                        # (the check loop has no break)
                        stricts = [
                            _strict_for(raw, date_field, f)
                            for b in chosen
                            if b.maps_date
                            for f in _bucket_date_fields(b)
                        ]
                        if not stricts:
                            by_field = {}
                for fname, cms in by_field.items():
                    match = (
                        (lambda _cell: F.lit(True))
                        if match_all
                        else partial(_concept_match, cms=cms)
                    )
                    date_gates[fname] = (match, stricts)
            prefix = self._metrics_prefix()
            aggs, blank_keys, datebad_keys = _metric_aggs(
                raw, prefix, norm_ok, count_fields, date_gates
            )
            resolve = partial(
                _add_file_metrics,
                stats,
                prefix,
                src_file,
                target,
                self._claim_row_count(src_file),
                blank_keys,
                datebad_keys,
            )
            # deferred: flush_metrics() runs every target's counters over
            # this file's cached scan in ONE combined aggregation job
            with self._compile_lock:
                self._pending_aggs.setdefault(cache_key, []).append((aggs, resolve))

        # the reference normalises the MAIN datetime column IN PLACE
        # (run.py:230-233 / orchestrator.py:141-152) BEFORE record building
        df = _date_valid_rows(raw, date_field)

        if is_person and tm.person_id_mapping is not None and self.rules.dialect == "v2":
            # J3: one person record per (source file, person id) — first row
            # wins (record_builder.py:199-220). Aggregation-based first-row
            # pick (min line + semi join back) keeps the plan shuffle-light.
            pid = _resolve(df, tm.person_id_mapping.source_field)
            firsts = df.groupBy(pid.alias("__ct_pid")).agg(F.min(LINE_COL).alias("__ct_minline"))
            df = df.join(
                F.broadcast(firsts),
                (pid == F.col("__ct_pid")) & (F.col(LINE_COL) == F.col("__ct_minline")),
                "left_semi",
            )

        if is_person:
            records = (
                self._person_records_col_v1(df, tm, schema, raw_date_field)
                if self.rules.dialect == "v1"
                else self._person_records_col(df, tm, schema, raw_date_field)
            )
            if stats is not None and self.rules.dialect == "v2" and comp_dests:
                # v2 person invalid_date: per failing COMBO record of the
                # deduped first-wins row, keyed on the first mapped data
                # column present in the header (see the metrics note above)
                fld = next(
                    (
                        cm_.source_field
                        for cm_ in tm.concept_mappings.values()
                        if _try_resolve(raw, cm_.source_field) is not None
                    ),
                    None,
                )
                if fld is not None:
                    prefix = self._metrics_prefix()
                    aggs2 = [
                        F.sum(
                            F.when(~strict_ok_col, F.size(records)).otherwise(0)
                        ).alias(f"{prefix}_datebad_0")
                    ]
                    resolve2 = partial(
                        _add_file_metrics, stats, prefix, src_file, target, False, (), (fld,)
                    )
                    with self._compile_lock:
                        self._pending_df_aggs.setdefault(src_file, []).append(
                            (df, aggs2, resolve2)
                        )
        else:
            # J1 both forms: small term maps compile into the plan as
            # when-chains (no join at all); large ones become broadcast
            # rules-table joins so a field with thousands of mapped values
            # doesn't produce a pathological expression tree
            df, attached = self._attach_large_rules(df, tm)
            records = self._standard_records_col(
                df, tm, schema, attached, raw_date_field, wide=wide
            )

        # strict-date component failure drops the whole row's records for
        # this target (record_builder.py:92-132); the per-field counts were
        # folded into the metrics aggregation above. v1 person: the gate is
        # per consulted BUCKET — a bucket whose rule-sets never mapped a date
        # dest skips core.py's date handling and its record always survives
        gate = None
        if comp_dests and chosen is None:
            gate = strict_ok_col
        elif comp_dests and chosen:
            srcs = {f for b in chosen if b.maps_date for f in _bucket_date_fields(b)}
            if len(srcs) == 1 and all(b.maps_date for b in chosen):
                # every record gated on the same source: one flat filter
                gate = _strict_for(raw, date_field, next(iter(srcs)))
            elif srcs:
                combo = F.col(f"__ct_rec.{COMBO_COL}")
                gate = F.lit(False)
                for i, b in enumerate(chosen):
                    # EVERY date entry in the bucket's data runs the
                    # component check (core.py iterates all of them;
                    # valid_data_elem goes False on any failure) — only the
                    # WRITE is last-field-wins
                    g = (
                        reduce(
                            and_,
                            [_strict_for(raw, date_field, f) for f in _bucket_date_fields(b)],
                        )
                        if b.maps_date
                        else F.lit(True)
                    )
                    gate = gate | ((combo == i) & g)
        return _records_frame(
            df, records, gate, schema, F.lit(src_file), F.lit(fileidx), keep_bucket
        )

    # -- same-shape block grouping (WIDE targets) -----------------------
    #
    # A wide rules file is usually many SOURCE FILES mapped through the
    # same record shape with different concept ids (the reference iterates
    # them one by one — mappingrules.py builds an independent per-file
    # dict either way). The per-block compile pays one giant record-array
    # parse + analysis per file: O(blocks) driver time (~0.5 s/block at
    # 20 fields; minutes at 500 blocks). Blocks whose shape signature
    # matches compile instead to ONE shared template over the UNION of
    # their scans, with every per-block literal (value->concept maps,
    # wildcard maps, file ordinals) hoisted into data columns — O(shapes)
    # driver time, and the executed plan gains only map lookups that the
    # per-block plan evaluated as inlined literals anyway.

    def _group_signature(self, src_file: str, tm: TableMapping, df: DataFrame):
        """Hashable shape key: two blocks with equal signatures compile to
        the IDENTICAL records template once per-block rule literals are
        hoisted into data columns. None -> per-block path. Non-person
        blocks of BOTH dialects group (person stays per-block — the v1
        bucket model and the v2 first-wins dedup are genuinely per-file);
        everything the template references by NAME (resolved source
        columns, date shape, person-id shape), by STRUCTURE (field order,
        wildcard-only kind, original-value dests, v1 copy/date-write
        companions), or by LITERAL the template would inline (v1
        extra_literals — blocks with different companion literals split
        into separate groups instead of hoisting) is part of the key."""
        if tm.target_table == "person":
            return None
        main_dt, _ = self._file_main_fields(src_file)
        if self._v2_skips_file(src_file, df):
            return None  # v2 file-skip gate -> cheap per-block empty frame
        if main_dt is None or _try_resolve(df, main_dt) is None:
            # v1 has NO file-skip gate: a file without a resolvable main
            # datetime still emits (no row date-filter). The grouped
            # template always builds the normalised-date scan, so only the
            # dominant dated shape groups; undated v1 files compile
            # per-block.
            return None
        raw_date_field = _raw_date_source(tm, main_dt)
        dt = dict(df.dtypes)

        def _res(name: str | None):
            # resolved name AND dtype: the grouped union is positional, so a
            # same-named column with a different type must split the group
            n = _try_resolve_name(df, name) if name is not None else None
            return (n, dt.get(n)) if n is not None else None

        rdf_name = _res(raw_date_field) if raw_date_field is not None else None
        pid_sig = (
            (
                tm.person_id_mapping.source_field,
                tm.person_id_mapping.dest_field,
                _res(tm.person_id_mapping.source_field),
            )
            if tm.person_id_mapping
            else None
        )
        dm_sig = (
            (
                tm.date_mapping.source_field,
                tuple(tm.date_mapping.dest_fields),
                tuple(tm.date_mapping.companions()),
            )
            if tm.date_mapping
            else None
        )
        fields_sig = []
        for cm in tm.concept_mappings.values():
            # v1 block companions are STRUCTURAL (field/dest names resolved
            # against the header) except extra_literals, whose VALUES the
            # template inlines — equal-by-value keeps the template exact
            # without another hoisted column family
            fields_sig.append(
                (
                    cm.source_field,
                    _res(cm.source_field),
                    1 if set(cm.value_mappings) == {"*"} else 0,
                    tuple(cm.original_value_fields),
                    tuple(
                        (d, f, _res(f)) for d, f in getattr(cm, "copy_fields", ())
                    ),
                    tuple(sorted(getattr(cm, "extra_literals", {}).items())),
                    tuple(
                        (f, _res(f))
                        for f in getattr(cm, "companion_term_fields", ())
                    ),
                    tuple(
                        (s, d, _res(s)) for s, d in getattr(cm, "date_writes", ())
                    ),
                    tuple(getattr(cm, "date_companions", ()) or ()),
                )
            )
        return (
            tm.target_table,
            (main_dt, _res(main_dt)),
            raw_date_field,
            rdf_name,
            pid_sig,
            dm_sig,
            tuple(fields_sig),
            dt.get(LINE_COL),
        )

    def _grouped_file_records(
        self,
        items: list[tuple[str, TableMapping, DataFrame, int]],
        schema: TableSchema,
        stats: RejectStats | None,
    ) -> DataFrame:
        """ONE records template for a same-shape block group.

        Driver cost is O(group) only in cheap string work: each file
        contributes one tiny raw projection (+ its file ordinal), the
        projections union, the union is normalised ONCE (one persisted scan
        for the whole group, shared across targets), per-file rule literals
        arrive via a single fileidx-keyed broadcast table (plus
        (fileidx, value)-keyed tables for join-band fields), and the
        record-array expression is parsed + analyzed ONCE. Metrics run as
        ONE groupBy(file ordinal) job per (group, target) — the per-file
        path runs one combined job per file. Ends in the same final select
        as _file_records, so the caller's positional union and the dense-id
        ordering (FILEIDX/LINE/FIELDIDX/COMBO — all data columns here) are
        unchanged."""
        rep_file, rep_tm, rep_df = items[0][0], items[0][1], items[0][2]
        target = rep_tm.target_table
        date_field, _ = self._file_main_fields(rep_file)
        raw_date_field = _raw_date_source(rep_tm, date_field)
        comp_dests = self._comp_dests(rep_tm)
        need_gate = stats is not None and bool(comp_dests)

        rep_keys = list(rep_tm.concept_mappings.keys())
        n_fields = len(rep_keys)
        # per field position: each block's exact / wildcard rule maps, the
        # full value set (concept-match gate counts empty-dest values too,
        # _concept_match), and wildcard PRESENCE (ditto)
        per_block_exact: list[list[dict]] = [[] for _ in range(n_fields)]
        per_block_wild: list[list[dict | None]] = [[] for _ in range(n_fields)]
        per_block_vals: list[list[list[str]]] = [[] for _ in range(n_fields)]
        per_block_wildp: list[list[bool]] = [[] for _ in range(n_fields)]
        for _src, tm, _df, _fi in items:
            for i, cm in enumerate(tm.concept_mappings.values()):
                per_block_exact[i].append(_exact_rules(cm))
                w = cm.value_mappings.get("*") or {}
                w = {d: [str(x) for x in ids] for d, ids in w.items() if ids}
                per_block_wild[i].append(w or None)
                per_block_vals[i].append([v for v in cm.value_mappings if v != "*"])
                per_block_wildp[i].append("*" in cm.value_mappings)
        any_exact = [any(per_block_exact[i]) for i in range(n_fields)]
        any_wild = [any(per_block_wild[i]) for i in range(n_fields)]
        # fields whose largest per-block map crosses the join threshold use
        # a broadcast rules table keyed on (file ordinal, value) — the
        # grouped twin of _attach_large_rules' pathological-literal guard
        large = [
            max((len(per_block_vals[i][b]) for b in range(len(items))), default=0)
            >= self.LARGE_TERM_MAP_THRESHOLD
            for i in range(n_fields)
        ]

        # ---- raw projections -> union -> ONE norm scan (cached) ----------
        needed: list[str] = []

        def _need(n: str | None) -> None:
            if n is not None and n not in needed:
                needed.append(n)

        # the norm input (overwritten in place after the filter), then every
        # source column the mapping reads, v1 block companions included
        for name in [date_field, *_mapping_source_columns(rep_tm)]:
            _need(_try_resolve_name(rep_df, name))
        _need(LINE_COL)

        fids = tuple(fi for _s, _t, _d, fi in items)
        # same component gate as the per-block cache: a group whose files
        # never feed a component-writing target skips materializing
        # __ct_y/__ct_mo/__ct_dd (three strict-date parses per row); the
        # gate is part of the cache key because the scan is shared across
        # targets
        needs_comp = any(
            self._file_needs_date_components(sf) for sf, _t, _d, _fi in items
        )

        def union() -> DataFrame:
            parts: list[DataFrame] = []
            for src_file, tm, df, fi in items:
                sel = [_sql_ident(c) for c in needed]
                sel.append(f"CAST({int(fi)} AS INT) AS __ct_gfidx")
                parts.append(df.selectExpr(*sel))
            return _union_tree(parts)

        u_norm = self._norm_scan(
            (fids, date_field, tuple(needed), needs_comp), union, date_field, needs_comp
        )

        # ---- per-file rule literals: ONE fileidx-keyed broadcast table ---
        tab_cols: list[str] = ["__ct_gfidx int"]
        rows: list[list[object]] = [[int(fi)] for fi in fids]

        def hoist(col: str, per_block: list) -> None:
            tab_cols.append(col)
            for row, v in zip(rows, per_block):
                row.append(v)

        for i in range(n_fields):
            if any_exact[i] and not large[i]:
                hoist(
                    f"__ct_grules_{i} map<string,map<string,array<string>>>",
                    [e or None for e in per_block_exact[i]],
                )
            if any_wild[i]:
                hoist(f"__ct_gwild_{i} map<string,array<string>>", per_block_wild[i])
            if need_gate:
                if not large[i]:
                    hoist(f"__ct_gvals_{i} array<string>", per_block_vals[i])
                hoist(f"__ct_gwildp_{i} boolean", per_block_wildp[i])
        u = u_norm
        if len(tab_cols) > 1:
            rtab = self.spark.createDataFrame([tuple(r) for r in rows], ", ".join(tab_cols))
            u = u.join(F.broadcast(rtab), "__ct_gfidx", "left")

        # join-band fields: broadcast rules on (file ordinal, value); rows
        # carry ALL values (a match flag for the metrics gate) with NULL
        # dest maps for empty-dest values, which therefore fall through to
        # the wildcard exactly like the literal bands
        for i, key_name in enumerate(rep_keys):
            if not large[i]:
                continue
            cell_name = _try_resolve_name(
                u, rep_tm.concept_mappings[key_name].source_field
            )
            if cell_name is None:
                continue
            jrows = []
            for b in range(len(items)):
                fi = items[b][3]
                e = per_block_exact[i][b]
                for v in per_block_vals[i][b]:
                    jrows.append((int(fi), v, e.get(v), True))
            fi_col, val_col = f"__ct_grfi_{i}", f"__ct_grval_{i}"
            jtab = self.spark.createDataFrame(
                jrows,
                f"{fi_col} int, {val_col} string, "
                f"__ct_grules_{i} map<string,array<string>>, __ct_grmatch_{i} boolean",
            )
            u = u.join(
                F.broadcast(jtab),
                (F.col("__ct_gfidx") == F.col(fi_col))
                & (F.col(cell_name) == F.col(val_col)),
                "left",
            ).drop(fi_col, val_col)

        # ---- metrics: ONE groupBy(file ordinal) agg for the whole group --
        if stats is not None:
            counted = {int(fi): self._claim_row_count(sf) for sf, _t, _d, fi in items}
            date_gates: dict[str, tuple] = {}
            if comp_dests:
                strict_ok_m = [_strict_for(u, date_field, raw_date_field)]
                by_field: dict[str, list[int]] = {}
                for i, cm_ in enumerate(rep_tm.concept_mappings.values()):
                    by_field.setdefault(cm_.source_field, []).append(i)
                for fname, idxs in by_field.items():

                    def match(cell: Column, idxs=idxs) -> Column:
                        # the hoisted per-file value sets / join-band match
                        # flags stand in for the per-block _concept_match
                        out = F.lit(False)
                        for i in idxs:
                            if large[i]:
                                m_i = F.coalesce(F.col(f"__ct_grmatch_{i}"), F.lit(False))
                            else:
                                m_i = F.coalesce(
                                    F.array_contains(F.col(f"__ct_gvals_{i}"), cell),
                                    F.lit(False),
                                )
                            out = out | m_i | F.coalesce(
                                F.col(f"__ct_gwildp_{i}"), F.lit(False)
                            )
                        return out

                    date_gates[fname] = (match, strict_ok_m)
            prefix = self._metrics_prefix()
            aggs, blank_keys, datebad_keys = _metric_aggs(
                u, prefix, F.col("__ct_norm").isNotNull(), _data_columns(rep_tm), date_gates
            )
            fid2file = {int(fi): sf for sf, _t, _d, fi in items}

            def resolve_rows(rws) -> None:
                seen_fids = set()
                for m in rws:
                    fi = m["__ct_gfidx"]
                    seen_fids.add(fi)
                    _add_file_metrics(
                        stats, prefix, fid2file[fi], target, counted[fi],
                        blank_keys, datebad_keys, m,
                    )
                # zero-row files produce no groupBy row but the per-file
                # path still records 0 input rows for them
                for fi, cf in counted.items():
                    if cf and fi not in seen_fids:
                        stats.input_rows.setdefault(fid2file[fi], 0)

            with self._compile_lock:
                self._pending_group_aggs.append((u, aggs, resolve_rows))

        u = _date_valid_rows(u, date_field)

        # ---- the shared record template (built and analyzed ONCE) --------
        from types import SimpleNamespace

        attached: dict[str, str] = {}
        wild_cols: dict[str, str] = {}
        syn_cms: dict[str, object] = {}
        for i, key_name in enumerate(rep_keys):
            rep_cm = rep_tm.concept_mappings[key_name]
            # synthetic merged cm: value_mappings (unique synthetic keys,
            # never "*") give the template its dest-column set and
            # combination arity = the union across the group; matching is
            # entirely via the hoisted columns. EVERY rep field gets a syn
            # entry — even rule-less ones that produce no records — so the
            # field_rank / block_seq arithmetic behind FIELDIDX matches the
            # per-block path exactly (it ranks all declared fields)
            merged: dict[str, dict[str, list[str]]] = {}
            for b in range(len(items)):
                for v, m in per_block_exact[i][b].items():
                    merged[f"__e{b}_{v}"] = m
                w = per_block_wild[i][b]
                if w:
                    merged[f"__w{b}"] = w
            # v1 companions pass through UNMODIFIED: the signature pins them
            # equal (structure AND extra_literals values) across the group,
            # so compiling the rep's into the shared template is exact
            syn_cms[key_name] = SimpleNamespace(
                source_field=rep_cm.source_field,
                value_mappings=merged,
                original_value_fields=list(rep_cm.original_value_fields),
                copy_fields=list(getattr(rep_cm, "copy_fields", [])),
                extra_literals=dict(getattr(rep_cm, "extra_literals", {})),
                companion_term_fields=list(
                    getattr(rep_cm, "companion_term_fields", [])
                ),
                date_writes=list(getattr(rep_cm, "date_writes", [])),
                date_companions=getattr(rep_cm, "date_companions", None),
                syn_kind=1 if set(rep_cm.value_mappings) == {"*"} else 0,
            )
            if not any_exact[i] and not any_wild[i]:
                continue  # rank entry recorded; no rules to attach
            cell_name = _try_resolve_name(u, rep_cm.source_field)
            if cell_name is None:
                continue
            cell = _sql_ident(cell_name)
            exact_expr = None
            if any_exact[i]:
                exact_expr = (
                    _sql_ident(f"__ct_grules_{i}")
                    if large[i]
                    else f"element_at({_sql_ident(f'__ct_grules_{i}')}, {cell})"
                )
            wild_expr = _sql_ident(f"__ct_gwild_{i}") if any_wild[i] else None
            if exact_expr is not None and wild_expr is not None:
                attached[key_name] = exact_expr
                wild_cols[key_name] = wild_expr
            elif exact_expr is not None:
                attached[key_name] = exact_expr
            else:
                attached[key_name] = wild_expr  # wild-only: eff = wild map

        syn_tm = dc_replace(rep_tm, concept_mappings=syn_cms)
        records = self._standard_records_col(
            u,
            syn_tm,
            schema,
            attached=attached,
            raw_date_field=raw_date_field,
            wild_cols=wild_cols,
            wide=True,
        )
        file_map = ", ".join(
            f"{int(fi)}, {_sql_str(sf)}" for sf, _t, _d, fi in items
        )
        return _records_frame(
            u,
            records,
            _strict_for(u, date_field, raw_date_field) if comp_dests else None,
            schema,
            F.expr(f"element_at(map({file_map}), __ct_gfidx)"),
            F.col("__ct_gfidx"),
        )

    # -- SQL-text record builder ----------------------------------------
    #
    # Every record generator is assembled as ONE SQL string per source
    # block and handed to F.expr: every Column operation is a synchronous
    # py4j round trip (~150 us, and py4j serializes across threads), so a
    # wide rules set (50 blocks x 20 fields) used to spend ~1 minute just
    # CONSTRUCTING expression trees. String assembly is pure Python
    # (microseconds) and the JVM parses each block's expression once.
    # Inputs are only literals and resolved COLUMN NAMES — the date-derived
    # commons are materialized on the cached scan
    # (__ct_norm/__ct_d10/__ct_y/__ct_mo/__ct_dd) precisely so no
    # Column->SQL conversion is ever needed.

    def _common_values_sql(
        self,
        df: DataFrame,
        tm: TableMapping,
        schema: TableSchema,
        raw_date_field: str | None = None,
    ) -> dict[str, str]:
        """Dest column -> SQL fragment for person-id and date destinations
        (applied last == highest precedence, record_builder.py:53-147).

        ``raw_date_field`` set means the target's date source is NOT the
        file's main datetime column: the RAW cell is copied (the reference
        only normalises the main column in place, orchestrator.py:141-152)
        — see _date_values_sql."""
        out: dict[str, str] = {}
        if tm.person_id_mapping and tm.person_id_mapping.dest_field in schema.columns:
            src = _try_resolve_name(df, tm.person_id_mapping.source_field)
            if src is not None:
                out[tm.person_id_mapping.dest_field] = _sql_ident(src)
        if tm.date_mapping:
            out.update(
                self._date_values_sql(
                    df,
                    schema,
                    tm.target_table,
                    [(raw_date_field, d) for d in tm.date_mapping.dest_fields],
                    set(tm.date_mapping.companions()),
                )
            )
        return out

    def _record_struct_sql(
        self,
        schema: TableSchema,
        overrides: dict[str, str],
        fname: str,
        combo_idx: int,
        field_idx: int,
        wrap_overrides: bool = True,
    ) -> str:
        """named_struct text for one record: every OMOP column (override,
        else its default — '0' for not-null numerics, P3 omopcdm.py:113-118,
        record_builder.py:28-37 — else ''), then the field / field-index /
        combination metadata."""
        parts: list[str] = []
        for c in schema.columns:
            ov = overrides.get(c)
            if ov is None:
                val = _default_sql(schema, c)
            elif wrap_overrides:
                val = f"COALESCE(CAST(({ov}) AS STRING), '')"
            else:
                val = ov
            parts.append(f"{_sql_str(c)}, {val}")
        parts.append(f"{_sql_str(FIELD_COL)}, CAST({_sql_str(fname)} AS STRING)")
        parts.append(f"{_sql_str(FIELDIDX_COL)}, CAST({field_idx} AS INT)")
        parts.append(f"{_sql_str(COMBO_COL)}, CAST({combo_idx} AS INT)")
        return f"named_struct({', '.join(parts)})"

    @staticmethod
    def _empty_arr_sql(template: str) -> str:
        # typed empty array via an always-false filter
        return f"filter(array({template}), __ct_e -> false)"

    def _empty_records_col(self, schema: TableSchema) -> Column:
        return F.expr(self._empty_arr_sql(self._record_struct_sql(schema, {}, "", 0, 0)))

    def _date_values_sql(
        self,
        df: DataFrame,
        schema: TableSchema,
        target: str,
        date_writes: list[tuple[str | None, str]],
        companions: set,
    ) -> dict[str, str]:
        """SQL fragments for (source, dest) date writes: each copies the
        source cell — the normalised __ct_* columns when the source is None
        (the file's main datetime column), the raw cell otherwise — and a
        companion dest carries the derived artifacts: D3 year/month/day
        components (str(int), unpadded) or the D4 linked *_date twin (first
        10 chars). Raw artifacts are inlined over the raw column: [:10]
        slice for the twin, split-at-space strict parse for components. A
        raw source missing from the header writes nothing
        (record_builder.py:74-79)."""
        linked = self.omop.linked_date_fields(target)
        comp = self.omop.date_components(target)
        out: dict[str, str] = {}
        for src, dest in date_writes:
            if dest not in schema.columns:
                continue
            if src is None:
                names = {
                    "val": "__ct_norm",
                    "d10": "__ct_d10",
                    "y": "__ct_y",
                    "mo": "__ct_mo",
                    "dd": "__ct_dd",
                }
            else:
                rn = _try_resolve_name(df, src)
                if rn is None:
                    continue
                val = _sql_ident(rn)
                sd = strict_date_sql(f"substring_index({val}, ' ', 1)")
                names = {
                    "val": val,
                    "d10": f"substring({val}, 1, 10)",
                    "y": f"CAST(year({sd}) AS STRING)",
                    "mo": f"CAST(month({sd}) AS STRING)",
                    "dd": f"CAST(dayofmonth({sd}) AS STRING)",
                }
            out[dest] = names["val"]
            if dest not in companions:
                continue
            if dest in comp:
                ci = comp[dest]
                for part, key in (("year", "y"), ("month", "mo"), ("day", "dd")):
                    if part in ci and ci[part] in schema.columns:
                        out[ci[part]] = names[key]
            elif dest in linked and linked[dest] in schema.columns:
                out[linked[dest]] = names["d10"]
        return out

    def _clamped_zip_sql(
        self,
        schema: TableSchema,
        arrs: dict[str, str],
        over: dict[str, str],
        max_n: int,
        fname: str,
        fidx: int,
        fallback_n: str | None = None,
    ) -> tuple[str, str]:
        """Clamped-zip combination records (X1,
        concept_helpers.generate_combinations): record k takes element
        min(k, len-1) of every matched dest -> concept-id array in ``arrs``
        (NULL = unmatched: the column default), then ``over`` — the row's
        other writes, which win dest collisions and, like every override,
        write '' for NULL (a blank person id must stay blank and be
        rejected at the person lookup, never become person "0"). The record
        count is the largest matched array size, else ``fallback_n``;
        ``max_n`` bounds it. Returns the record array and a typed empty
        array of the same shape."""
        sizes = [f"COALESCE(size({a}), 0)" for a in arrs.values()]
        if len(sizes) > 1:
            n_rec = f"greatest({', '.join(sizes)}, 0)"
        else:
            n_rec = sizes[0] if sizes else "0"
        if fallback_n is not None:
            n_rec = f"CASE WHEN ({n_rec}) > 0 THEN {n_rec} ELSE {fallback_n} END"
        recs = []
        for k in range(max_n):
            concept_over = {
                d: (
                    f"COALESCE(CASE WHEN {a} IS NOT NULL THEN "
                    f"element_at({a}, least({k + 1}, size({a}))) END, "
                    f"{_default_sql(schema, d)})"
                )
                for d, a in arrs.items()
                if d in schema.columns
            }
            recs.append(
                self._record_struct_sql(schema, {**concept_over, **over}, fname, k, fidx)
            )
        empty = self._empty_arr_sql(recs[0])
        return (
            f"CASE WHEN ({n_rec}) > 0 THEN slice(array({', '.join(recs)}), 1, {n_rec}) "
            f"ELSE {empty} END",
            empty,
        )

    def _joined_field_records_sql(
        self,
        cm,
        schema: TableSchema,
        common: dict[str, str],
        cell: str,
        fname: str,
        fidx: int,
        matched: str,
        lit_over: dict[str, str] | None = None,
        copy_over: dict[str, str] | None = None,
        wild_matched: str | None = None,
    ) -> str:
        """Per-field dest-map record builder: exact match beats wildcard,
        clamped-zip combinations, blank cells never match.

        ``wild_matched``: grouped-template mode — the wildcard dest map
        comes from a per-file data COLUMN instead of an inlined literal
        (exact-beats-wild stays a COALESCE either way)."""
        wild = cm.value_mappings.get("*")
        if wild_matched is None and wild:
            wild_matched = _dest_map_sql(wild)
        eff = f"COALESCE({matched}, {wild_matched})" if wild_matched else matched
        all_dests: list[str] = []
        for m in cm.value_mappings.values():
            for d, ids in m.items():
                if ids and d not in all_dests:
                    all_dests.append(d)
        # precedence (low->high): concept, literals, original value, plain
        # copies, person id + dates
        over = {
            **(lit_over or {}),
            **{d: cell for d in cm.original_value_fields if d in schema.columns},
            **(copy_over or {}),
            **common,
        }
        sel, empty = self._clamped_zip_sql(
            schema,
            {d: f"element_at({eff}, {_sql_str(d)})" for d in all_dests},
            over,
            _max_combos(cm),
            fname,
            fidx,
        )
        return (
            f"CASE WHEN COALESCE(trim({cell}) != '', false) THEN {sel} "
            f"ELSE {empty} END"
        )

    # fields with at least this many exact-valued mappings use a broadcast
    # rules-table join instead of an inlined when-chain
    LARGE_TERM_MAP_THRESHOLD = 100
    # ...and from this many up to the join threshold, an element_at over a
    # constant-folded map literal (one hash lookup per row) — measured
    # faster than the when-chain from the mid-tens of values while tiny
    # maps stay on the chain (a few comparisons beat the map machinery)
    MAPLIT_TERM_MAP_THRESHOLD = 16
    # ...except on WIDE targets (total (field, value) pairs across all
    # blocks at or past this bound): there compile time dominates — the
    # maplit band drops to every field (see target_candidates)
    WIDE_PLAN_PAIRS = 512

    def _attach_large_rules(
        self, df: DataFrame, tm: TableMapping
    ) -> tuple[DataFrame, dict[str, str]]:
        """Broadcast-join the rules tables of large term-map fields onto the
        scan: one map<dest, array<concept-id>> column per large field. Values
        whose dest map carries no ids are omitted (they fall through to the
        wildcard, matching the when-chain semantics)."""
        attached: dict[str, str] = {}
        for i, (fname, cm) in enumerate(tm.concept_mappings.items()):
            exact = _exact_rules(cm)
            if len(exact) < self.LARGE_TERM_MAP_THRESHOLD:
                continue
            cell = _try_resolve(df, cm.source_field)
            if cell is None:
                continue
            val_col, map_col = f"__ct_rval_{i}", f"__ct_rules_{i}"
            rules_df = self.spark.createDataFrame(
                list(exact.items()), f"{val_col} string, {map_col} map<string,array<string>>"
            )
            df = df.join(F.broadcast(rules_df), cell == F.col(val_col), "left").drop(val_col)
            # attached values are ready SQL EXPRESSIONS (the grouped-template
            # path stores element_at(map-col, cell) probes under the same
            # contract)
            attached[fname] = _sql_ident(map_col)
        return df, attached

    def _standard_records_col(
        self,
        df: DataFrame,
        tm: TableMapping,
        schema: TableSchema,
        attached: dict[str, str] | None = None,
        raw_date_field: str | None = None,
        wild_cols: dict[str, str] | None = None,
        wide: bool = False,
    ) -> Column:
        """array<record> for a standard target: per-field fan-out (U1), each
        field contributing its matched value's clamped-zip combinations (X1).
        StandardRecordBuilder semantics (record_builder.py:306-367):
        records require a concept match (exact value, else wildcard).

        Assembled as ONE SQL string for the whole block (see the SQL-text
        note above). Three value-map compilation bands, each the measured
        winner at its size (crossovers measured on 200k-row x 5-field
        shapes):
        - < MAPLIT_TERM_MAP_THRESHOLD values: inlined CASE chain — a
          handful of string comparisons per row beats the map machinery;
        - up to LARGE_TERM_MAP_THRESHOLD: element_at over a CONSTANT map
          literal (folded by Catalyst — one hash lookup per row) feeding
          the shared per-field builder — ~30% faster than a 40-branch
          chain and one record set per FIELD, not per (field, value), so
          plans (and generated code) stay |values|x smaller;
        - beyond that: broadcast rules-table join (_attach_large_rules),
          same builder.
        On WIDE targets (``wide``, see WIDE_PLAN_PAIRS) every field takes
        the per-field builder: |values|x less generated code dominates
        there."""
        common = self._common_values_sql(df, tm, schema, raw_date_field)
        # v1 blocks each write ONLY their own date dests from their own
        # columns (core.py iterates the block's data entries); the shared
        # TM-level fragments stay for the dominant uniform case, and a
        # block whose (source, dest) date shape differs gets a per-block
        # override (cm.date_writes, recorded by the loader)
        v1_blocks = self.rules.dialect == "v1" and tm.target_table != "person"
        tm_date_keys: set[str] = set()
        default_writes: list[tuple[str, str]] = []
        main_dt_b: str | None = None
        if v1_blocks and tm.date_mapping:
            main_dt_b, _ = self._file_main_fields(tm.source_table)
            linked_b = self.omop.linked_date_fields(tm.target_table)
            comp_b = self.omop.date_components(tm.target_table)
            for dest in tm.date_mapping.dest_fields:
                tm_date_keys.add(dest)
                if dest in comp_b:
                    tm_date_keys.update(comp_b[dest].values())
                if dest in linked_b:
                    tm_date_keys.add(linked_b[dest])
            # ORDER-exact default (uniform corpora hit the shared-fragment
            # fast path; any deviation — different sources, dest order, or
            # per-field last-dest — takes the per-block override)
            default_writes = [
                (tm.date_mapping.source_field, d) for d in tm.date_mapping.dest_fields
            ]
        per_field: list[str] = []
        # FIELDIDX is field-major (the reference iterates data COLUMNS, and
        # for each column emits its value-triggered blocks before its
        # wildcard blocks) — with v1 block mappings several ConceptMappings
        # can share a source field under synthetic dict keys
        field_rank: dict[str, int] = {}
        for cm_ in tm.concept_mappings.values():
            field_rank.setdefault(cm_.source_field, len(field_rank))
        block_seq: dict[tuple[str, int], int] = {}
        for key_name, cm in tm.concept_mappings.items():
            fname = cm.source_field
            kind = getattr(cm, "syn_kind", None)
            if kind is None:
                kind = 1 if set(cm.value_mappings) == {"*"} else 0
            seq = block_seq.get((fname, kind), 0)
            block_seq[(fname, kind)] = seq + 1
            fidx = field_rank[fname] * 10000 + kind * 5000 + seq
            cname = _try_resolve_name(df, fname)
            if cname is None:
                continue
            cell = _sql_ident(cname)
            # v1 block companions: literal writes from non-trigger term
            # fields + raw-cell copies from non-trigger plain fields ride in
            # every record this block emits
            lit_over = {
                d: _sql_str(v)
                for d, v in cm.extra_literals.items()
                if d in schema.columns
            }
            copy_over: dict[str, str] = {}
            for d, fld in cm.copy_fields:
                if d not in schema.columns:
                    continue
                cn = _try_resolve_name(df, fld)
                if cn is not None:
                    copy_over[d] = _sql_ident(cn)
            common_cm = common
            if v1_blocks and tm.date_mapping:
                dw = getattr(cm, "date_writes", [])
                # derived artifacts attach to each source FIELD's last date
                # dest, and ONLY when the field's final data entry IS that
                # date dest (core.py's date handling runs once per infield
                # on the loop's final element) — tracked by the loader
                comps_cm = getattr(cm, "date_companions", None)
                if comps_cm is None:
                    last_per_src: dict[str, str] = {}
                    for src_w, dest_w in dw:
                        last_per_src[src_w] = dest_w
                    comps_cm = list(last_per_src.values())
                tm_comps = set(tm.date_mapping.companions()) & {d for _, d in dw}
                if dw != default_writes or set(comps_cm) != tm_comps:
                    common_cm = {
                        k: v for k, v in common.items() if k not in tm_date_keys
                    }
                    if dw:
                        common_cm.update(
                            self._date_values_sql(
                                df,
                                schema,
                                tm.target_table,
                                [(None if src == main_dt_b else src, dest) for src, dest in dw],
                                set(comps_cm),
                            )
                        )
            wild = cm.value_mappings.get("*")
            exact = _exact_rules(cm)
            maplit_floor = 1 if wide else self.MAPLIT_TERM_MAP_THRESHOLD
            matched = wild_matched = None
            if attached and key_name in attached:
                matched = attached[key_name]
                wild_matched = wild_cols.get(key_name) if wild_cols else None
            elif exact and len(exact) >= maplit_floor:
                pairs = [f"{_sql_str(v)}, {_dest_map_sql(m)}" for v, m in exact.items()]
                matched = f"element_at(map({', '.join(pairs)}), {cell})"
            if matched is not None:
                per_field.append(
                    self._joined_field_records_sql(
                        cm, schema, common_cm, cell, fname, fidx, matched,
                        lit_over=lit_over, copy_over=copy_over, wild_matched=wild_matched,
                    )
                )
                continue
            has_wild = bool(wild) and any(ids for ids in wild.values())
            if not exact and not has_wild:
                continue

            def combos_for(dest_map: dict[str, list[int]]) -> str | None:
                n = max((len(ids) for ids in dest_map.values() if ids), default=0)
                recs = []
                for k in range(n):
                    # precedence (low->high): concept, original value,
                    # person id, dates — common holds the last two
                    concept_over = {
                        d: _sql_str(str(ids[min(k, len(ids) - 1)]))
                        for d, ids in dest_map.items()
                        if ids and d in schema.columns
                    }
                    orig_over = {
                        d: cell for d in cm.original_value_fields if d in schema.columns
                    }
                    merged = {**concept_over, **lit_over, **orig_over, **copy_over, **common_cm}
                    recs.append(self._record_struct_sql(schema, merged, fname, k, fidx))
                return f"array({', '.join(recs)})" if recs else None

            branches = []
            for value, dest_map in exact.items():
                arr = combos_for(dest_map)
                if arr is None:
                    continue
                branches.append(f"WHEN {cell} = {_sql_str(value)} THEN {arr}")
            wild_arr = combos_for(wild) if wild else None
            if not branches and wild_arr is None:
                continue
            empty = self._empty_arr_sql(
                self._record_struct_sql(schema, common_cm, fname, 0, fidx)
            )
            sel = _case_sql(branches, wild_arr if wild_arr is not None else empty)
            # F1: blank cells never produce records (+ never match wildcard)
            per_field.append(
                f"CASE WHEN trim({cell}) != '' THEN {sel} ELSE {empty} END"
            )
        if not per_field:
            return self._empty_records_col(schema)
        return F.expr(f"flatten(array({', '.join(per_field)}))")

    def _person_records_col(
        self,
        df: DataFrame,
        tm: TableMapping,
        schema: TableSchema,
        raw_date_field: str | None = None,
    ) -> Column:
        """array<record> for the person target: mappings MERGED across all
        fields (later field wins dest-field collisions), then one clamped-zip
        combination set (PersonRecordBuilder, record_builder.py:199-303)."""
        common = self._common_values_sql(df, tm, schema, raw_date_field)
        fields = []
        for fname, cm in tm.concept_mappings.items():
            cname = _try_resolve_name(df, fname)
            if cname is not None:
                fields.append((_sql_ident(cname), cm))
        # per dest column: coalesce(last field's match, ..., first field's)
        dest_arrays: dict[str, str] = {}
        for d in _dest_order(tm.concept_mappings.values()):
            picks: list[str] = []
            for cell, cm in reversed(fields):
                branches = []
                for value, dmap in cm.value_mappings.items():
                    if value == "*":
                        continue
                    ids = dmap.get(d)
                    arr = _sql_str_array(ids) if ids else "CAST(NULL AS ARRAY<STRING>)"
                    branches.append(f"WHEN {cell} = {_sql_str(value)} THEN {arr}")
                wild = cm.value_mappings.get("*")
                sel = _case_sql(
                    branches, _sql_str_array(wild[d]) if wild and wild.get(d) else None
                )
                if sel is None:
                    continue
                picks.append(f"CASE WHEN trim({cell}) != '' THEN {sel} END")
            if picks:
                dest_arrays[d] = (
                    f"COALESCE({', '.join(picks)})" if len(picks) > 1 else picks[0]
                )

        # original values: later field wins (record_builder.py:274-277)
        orig_values: dict[str, str] = {}
        for cell, cm in fields:
            for d in cm.original_value_fields:
                if d not in schema.columns:
                    continue
                cur = f"CASE WHEN trim({cell}) != '' THEN {cell} END"
                prev = orig_values.get(d)
                orig_values[d] = f"COALESCE({cur}, {prev})" if prev is not None else cur
        if not dest_arrays and not orig_values:
            return self._empty_records_col(schema)

        # n combos = max size over matched dest arrays (clamp semantics);
        # 1 when only original values matched
        any_orig = " OR ".join(f"({v}) IS NOT NULL" for v in orig_values.values())
        # an unmatched original value is no write: the column keeps its
        # default
        orig_writes = {
            d: f"COALESCE({v}, {_default_sql(schema, d)})" for d, v in orig_values.items()
        }
        records, _ = self._clamped_zip_sql(
            schema,
            dest_arrays,
            {**orig_writes, **common},
            max((_max_combos(cm) for _cell, cm in fields), default=1),
            next(iter(tm.concept_mappings), ""),
            0,
            fallback_n=f"CASE WHEN {any_orig} THEN 1 ELSE 0 END" if any_orig else None,
        )
        return F.expr(records)

    def _person_records_col_v1(
        self,
        df: DataFrame,
        tm: TableMapping,
        schema: TableSchema,
        raw_date_field: str | None = None,
    ) -> Column:
        """v1 person semantics (run.py:244-302 + core.py:51-102): exactly ONE
        record per input row, gated on the first data column being non-blank.
        No combination explosion — within the merged rules element, later
        concept assignments overwrite, so each dest takes the LAST concept id
        of its matched list; original values apply only when the field's
        value matched; later fields win dest collisions."""
        common = self._common_values_sql(df, tm, schema, raw_date_field)
        fields = list(tm.concept_mappings.items())
        first_cell = _try_resolve_name(df, fields[0][0]) if fields else None
        chosen = _v1_chosen_buckets(tm)
        if first_cell is None or chosen == []:
            return self._empty_records_col(schema)
        first_field = fields[0][0]

        if chosen is not None:
            # dictkeys order (core.py:49-59): the '<file>~person' dict bucket
            # first, then the scalar bucket keyed on the FIRST datacol — ONE
            # record per consulted bucket; other scalar buckets are dead
            # rules (their srckey never matches the first datacol)
            pid_key = (
                tm.person_id_mapping.dest_field if tm.person_id_mapping else None
            )
            main_dt, _ = self._file_main_fields(tm.source_table)

            def bucket_common(b) -> dict[str, str]:
                # common holds ONLY person-id + date writes; a bucket whose
                # rule-sets never mapped them leaves the defaults (blank pid
                # record is later rejected at the person lookup). Both the
                # pid and date VALUES come from the bucket's own
                # last-inserted source fields (two rule-sets in one bucket
                # may map them from different columns; the last data-dict
                # entry wins the write) — the date normalised in place only
                # when the bucket's source IS the file's main datetime column
                out: dict[str, str] = {}
                if b.maps_date and tm.date_mapping is not None:
                    f = b.date_fields[-1] if b.date_fields else tm.date_mapping.source_field
                    dates = self._date_values_sql(
                        df,
                        schema,
                        tm.target_table,
                        [(None if f == main_dt else f, d) for d in tm.date_mapping.dest_fields],
                        set(tm.date_mapping.companions()),
                    )
                    out.update((k, v) for k, v in dates.items() if k != pid_key)
                if pid_key is not None and pid_key in schema.columns and b.maps_person_id:
                    src_f = (
                        b.pid_fields[-1]
                        if b.pid_fields
                        else tm.person_id_mapping.source_field
                    )
                    cell = _try_resolve_name(df, src_f)
                    if cell is not None:
                        out[pid_key] = _sql_ident(cell)
                return out

            recs = [
                self._v1_person_record(
                    df, list(b.concept_mappings.items()), schema,
                    bucket_common(b), first_field, combo_idx=i,
                )
                for i, b in enumerate(chosen)
            ]
        else:
            recs = [self._v1_person_record(df, fields, schema, common, first_field)]
        return F.expr(
            f"CASE WHEN COALESCE(trim({_sql_ident(first_cell)}) != '', false) "
            f"THEN array({', '.join(recs)}) ELSE {self._empty_arr_sql(recs[0])} END"
        )

    def _v1_person_record(
        self,
        df: DataFrame,
        fields: list,
        schema: TableSchema,
        common: dict[str, str],
        first_field: str,
        combo_idx: int = 0,
    ) -> str:
        """One person record struct from one rules element (core.py:67-156
        applied to a single out_data_elem)."""
        overrides: dict[str, str] = {}

        def write(d: str, piece: str) -> None:
            # later fields overwrite on collision; a NULL piece falls back
            # to the earlier write
            prev = overrides.get(d)
            overrides[d] = f"COALESCE({piece}, {prev})" if prev is not None else piece

        for fname, cm in fields:
            cname = _try_resolve_name(df, fname)
            if cname is None:
                # a mapped field missing from the header: the reference
                # CRASHES here (core.py:105 reads srcdata for the date
                # handling of every list-kind field) — skipping the field
                # is our graceful superset of an unrunnable shape
                continue
            # csv.reader yields '' for empty cells (never None): blank
            # coalesce so ''-keyed dict matches and blank copies behave
            cell = f"COALESCE({_sql_ident(cname)}, '')"
            exact = [v for v in cm.value_mappings if v != "*"]
            wild = cm.value_mappings.get("*")
            for d in _dest_order([cm]):
                branches = []
                for value in exact:
                    ids = cm.value_mappings[value].get(d)
                    val = _sql_str(str(ids[-1])) if ids else "CAST(NULL AS STRING)"
                    branches.append(f"WHEN {cell} = {_sql_str(value)} THEN {val}")
                wild_val = _sql_str(str(wild[d][-1])) if wild and wild.get(d) else None
                # NO validity gate: person dict matching is bare equality
                # ('if str(input_value) in outfield_list', core.py:80) — a
                # dict keyed on the EMPTY string matches blank cells; only
                # the FIRST datacol carries a valid-value requirement
                sel = _case_sql(branches, wild_val)
                if sel is not None:
                    write(d, sel)
            # value-gated plain copies: a plain dest of a dict-mapped field
            # rides exactly ONE value's entry list in the reference's person
            # data (the stale-inputvalue attach — see ir.ConceptMapping), so
            # it writes only when the row's cell IS that value
            for value, vdests in cm.value_original_fields.items():
                for d in vdests:
                    if d in schema.columns:
                        write(d, f"CASE WHEN {cell} = {_sql_str(value)} THEN {cell} END")
            # v1 person scalar terms ride the field's plain LIST and apply
            # UNCONDITIONALLY (core.py list-kind entries have no valid-value
            # check — the literal lands even on a blank cell); later fields
            # still win dest collisions via the coalesce chain
            for d, lit in getattr(cm, "extra_literals", {}).items():
                if d in schema.columns:
                    write(d, _sql_str(str(lit)))
            if cm.original_value_fields:
                if wild:
                    matched = None  # any value matches: same as unconditional
                elif exact:
                    matched = " OR ".join(f"{cell} = {_sql_str(v)}" for v in exact)
                elif cm.value_mappings:
                    continue
                else:
                    # a field with NO value mappings at all is list-kind in
                    # the reference and its plain copies apply to EVERY row
                    # UNCONDITIONALLY — a blank cell writes '' and CLOBBERS
                    # an earlier field's non-blank write on a dest collision
                    # (core.py's list application has no valid-value check;
                    # later data entries simply overwrite tgtarray)
                    matched = None
                for d in cm.original_value_fields:
                    if d in schema.columns:
                        write(d, cell if matched is None else f"CASE WHEN {matched} THEN {cell} END")

        merged = {d: f"COALESCE({v}, {_default_sql(schema, d)})" for d, v in overrides.items()}
        merged.update(common)
        # combo_idx orders the dict-bucket record before the scalar-bucket
        # record within a row (dense-id sort key [file, line, fieldidx,
        # combo]) — the reference writes them in dictkeys order
        return self._record_struct_sql(schema, merged, first_field, combo_idx, 0)


# ---------------------------------------------------------------------------


def _records_per_row_bound(tm: TableMapping) -> int:
    """Upper bound on output records per input row for one (file, target)
    mapping: each mapped field fans out at most max(len(concept-id list))
    combination records (clamped-zip semantics; person targets emit one
    merged combination set, which this also bounds)."""
    return max(sum(_max_combos(cm) for cm in tm.concept_mappings.values()), 1)


def _max_combos(cm) -> int:
    """A field's clamped-zip record count bound: its longest concept-id
    list, at least 1."""
    return max(
        [len(ids) for dmap in cm.value_mappings.values() for ids in dmap.values() if ids],
        default=1,
    )


def _v1_chosen_buckets(tm: TableMapping):
    """The person buckets a v1 record build consults (core.py:49-59): the
    '<file>~person' dict bucket, then the scalar bucket whose key field is
    the FIRST datacol. None when the mapping is not bucketed (v2 / tests
    constructing IR directly)."""
    buckets = tm.v1_person_buckets
    if buckets is None:
        return None
    if not tm.concept_mappings:
        return []
    first = next(iter(tm.concept_mappings))
    return [b for b in buckets if b.key_field is None] + [
        b for b in buckets if b.key_field == first
    ]


_POOL_WIDTH = _threading.local()


def _thread_map(fn: Callable, items: list, min_items: int) -> list:
    """``fn`` over ``items``, across a thread pool once there are at least
    ``min_items`` (see target_candidates). Width 8 in all, not 16: the
    py4j/analyzer pipeline saturates around 8 threads and oversubscription
    costs ~35% (measured 50-block compile: 16 threads 14.5-15.1 s,
    8 threads 10.7-11.4 s, 4 threads 12.7 s, 1 thread 27.2 s — on a busy
    box, scripts/profile_wide_plan.py). The 8 are shared with nested
    calls: run_transform's target pool of k threads leaves each target's
    per-file and union pools 8 // k threads (inline below 2), so at most
    about 8 threads build plans at once."""
    budget = getattr(_POOL_WIDTH, "width", 8)
    if len(items) < min_items or budget < 2:
        return [fn(i) for i in items]
    from concurrent.futures import ThreadPoolExecutor

    width = min(budget, len(items))

    def run(item):
        _POOL_WIDTH.width = budget // width
        return fn(item)

    with ThreadPoolExecutor(width) as ex:
        return list(ex.map(run, items))


def _union_tree(parts: list[DataFrame]) -> DataFrame:
    """Balanced-tree positional union, levels threaded: a left-deep chain
    re-resolves the growing left plan on every step (quadratic analysis —
    ~30 s of the old 50-block compile); the tree analyzes each part
    O(log n) times, and sibling unions at one level are independent so they
    analyze concurrently (~9.5 s -> ~2.8 s at 50 blocks)."""

    def union_pair(pair: tuple[DataFrame, DataFrame]) -> DataFrame:
        merged = pair[0].union(pair[1])
        merged.schema
        return merged

    while len(parts) > 1:
        pairs = [(parts[i], parts[i + 1]) for i in range(0, len(parts) - 1, 2)]
        tail = [parts[-1]] if len(parts) % 2 else []
        parts = _thread_map(union_pair, pairs, 2) + tail
    return parts[0]


def _exact_rules(cm) -> dict[str, dict[str, list[str]]]:
    """value -> {dest: concept ids as strings} over a field's exact-valued
    mappings; dests and values without ids are dropped (a value with none
    falls through to the wildcard)."""
    exact = {
        v: {d: [str(x) for x in ids] for d, ids in m.items() if ids}
        for v, m in cm.value_mappings.items()
        if v != "*"
    }
    return {v: m for v, m in exact.items() if m}


def _raw_date_source(tm: TableMapping, main_dt: str | None) -> str | None:
    """The target's own date source; None when it IS the file's main
    datetime column, in which case the normalised __ct_* columns apply."""
    if tm.date_mapping and tm.date_mapping.source_field != main_dt:
        return tm.date_mapping.source_field
    return None


def _cm_source_columns(cm, date_writes: bool = True) -> Iterator[str]:
    """The source columns one ConceptMapping reads, in walk order: its
    field, then the v1 block companions — raw-cell copies and non-trigger
    term fields, data columns whose blanks the reference counts — then,
    with ``date_writes``, the per-block date-write sources."""
    yield cm.source_field
    for _d, fld in getattr(cm, "copy_fields", ()):
        yield fld
    yield from getattr(cm, "companion_term_fields", ())
    if date_writes:
        for src, _d in getattr(cm, "date_writes", ()):
            yield src


def _mapping_source_columns(tm: TableMapping) -> Iterator[str]:
    """The source columns one (file, target) mapping reads, in walk order:
    every field's columns (_cm_source_columns), the person id, the date
    source."""
    for cm in tm.concept_mappings.values():
        yield from _cm_source_columns(cm)
    if tm.person_id_mapping:
        yield tm.person_id_mapping.source_field
    if tm.date_mapping:
        yield tm.date_mapping.source_field


def _data_columns(tm: TableMapping) -> list[str]:
    """Unique DATA COLUMNS of a block in first-appearance order: the
    reference iterates every field present in a block's data and counts
    its blanks, even a companion no record is keyed on."""
    return list(
        dict.fromkeys(
            name
            for cm in tm.concept_mappings.values()
            for name in _cm_source_columns(cm, date_writes=False)
        )
    )


def _strict_for(frame: DataFrame, date_field: str | None, source_f: str | None) -> Column:
    """Strict component-date check on a target's date value: the MAIN
    column (``date_field``) was normalised in place into __ct_norm; any
    other source is checked on its RAW cell split at the first space
    (record_builder.py:96-99 get_datetime_value on source_date.split(" ")[0]);
    a source missing from ``frame``'s header writes no dates and can never
    strict-reject (record_builder.py:74-79 returns True)."""
    if source_f is None or source_f == date_field:
        return strict_date_ok(F.substring(F.col("__ct_norm"), 1, 10))
    c = _try_resolve(frame, source_f)
    if c is None:
        return F.lit(True)
    return strict_date_ok(F.substring_index(c, " ", 1))


def _metric_aggs(
    frame: DataFrame,
    prefix: str,
    norm_ok: Column,
    blank_fields: list[str],
    date_gates: dict[str, tuple[Callable[[Column], Column], list[Column]]],
) -> tuple[list[Column], tuple[str, ...], tuple[str, ...]]:
    """Aggregations for one (file, target) counter set over the normalised
    scan, aliased under ``prefix`` (read back by _add_file_metrics): rows,
    date-rejected rows, blank cells per data column and strict-date
    failures per concept field. Blank and date failures are counted over
    date-valid rows (the reference counts inside the per-record loop,
    after the row filter). ``date_gates``: field -> (concept-match gate on
    its cell, strict checks; each failing check counts once). Fields
    missing from the header are skipped; returns the aggregations and the
    blank and date-failure keys in alias order."""
    aggs = [
        F.count(F.lit(1)).alias(f"{prefix}_rows"),
        F.sum(F.when(~norm_ok, 1).otherwise(0)).alias(f"{prefix}_datebad"),
    ]
    blank_keys: list[str] = []
    for fname in blank_fields:
        cell = _try_resolve(frame, fname)
        if cell is None:
            continue
        blank_keys.append(fname)
        aggs.append(
            F.sum(
                F.when(norm_ok & ~F.coalesce(valid_value(cell), F.lit(False)), 1).otherwise(0)
            ).alias(f"{prefix}_blank_{len(blank_keys) - 1}")
        )
    datebad_keys: list[str] = []
    for fname, (match, stricts) in date_gates.items():
        cell = _try_resolve(frame, fname)
        if cell is None:
            continue
        base_gate = F.coalesce(valid_value(cell), F.lit(False)) & match(cell)
        expr = None
        for sc in stricts:
            piece = F.when(norm_ok & ~sc & base_gate, 1).otherwise(0)
            expr = piece if expr is None else expr + piece
        datebad_keys.append(fname)
        aggs.append(F.sum(expr).alias(f"{prefix}_datebad_{len(datebad_keys) - 1}"))
    return aggs, tuple(blank_keys), tuple(datebad_keys)


def _add_file_metrics(
    stats: RejectStats,
    prefix: str,
    src_file: str,
    target: str,
    count_file: bool,
    blank_keys: tuple[str, ...],
    datebad_keys: tuple[str, ...],
    m,
) -> None:
    """Fold one collected row of _metric_aggs counters into ``stats``;
    ``count_file`` says whether this pair owns the file's row counts."""
    if count_file:
        stats.input_rows[src_file] = stats.input_rows.get(src_file, 0) + m[f"{prefix}_rows"]
        if m[f"{prefix}_datebad"]:
            stats.date_reject_rows[src_file] = (
                stats.date_reject_rows.get(src_file, 0) + m[f"{prefix}_datebad"]
            )
    for counts, keys, kind in (
        (stats.invalid_source, blank_keys, "blank"),
        (stats.invalid_date, datebad_keys, "datebad"),
    ):
        for i, fname in enumerate(keys):
            n = m[f"{prefix}_{kind}_{i}"]
            if n:
                key = (src_file, target, fname)
                counts[key] = counts.get(key, 0) + n


def _date_valid_rows(frame: DataFrame, date_field: str | None) -> DataFrame:
    """The date-valid rows of a normalised scan, with the MAIN datetime
    column overwritten by its normalised value: the reference normalises
    it in place, so every later read of that column — plain copies,
    original values, term matching — sees the normalised value."""
    if date_field is None:
        return frame
    frame = frame.filter(F.col("__ct_norm").isNotNull())
    mc = _try_resolve_name(frame, date_field)
    return frame.withColumn(mc, F.col("__ct_norm")) if mc is not None else frame


def _records_frame(
    frame: DataFrame,
    records: Column,
    gate: Column | None,
    schema: TableSchema,
    src: Column,
    fileidx: Column,
    keep_bucket: bool = False,
) -> DataFrame:
    """One output row per record of ``records`` passing ``gate``: the OMOP
    columns, then the meta columns every part of a target ends in (the
    caller's positional union and the dense-id ordering rely on it)."""
    # explode_outer + null-filter, NOT explode: plain explode's implicit
    # size()>0 predicate gets pushed below upstream exchanges and
    # re-evaluates the entire record-generation expression per row
    exploded = frame.select("*", F.explode_outer(records).alias("__ct_rec")).filter(
        F.col("__ct_rec").isNotNull()
    )
    if gate is not None:
        exploded = exploded.filter(gate)
    cols = [F.col(f"__ct_rec.{c}").alias(c) for c in schema.columns]
    meta = [
        src.alias(SRC_COL),
        F.col(f"__ct_rec.{FIELD_COL}").alias(FIELD_COL),
        F.col(f"__ct_rec.{FIELDIDX_COL}").alias(FIELDIDX_COL),
        F.col(f"__ct_rec.{COMBO_COL}").alias(COMBO_COL),
        F.col(LINE_COL),
        # folded into this select — a trailing withColumn would re-analyze
        # the whole record projection once more per file
        fileidx.alias(FILEIDX_COL),
    ]
    if keep_bucket:
        meta.append(F.col(BUCKET_COL))  # dense-id bucket rider
    return exploded.select(*cols, *meta)


def _resolve(df: DataFrame, name: str) -> Column:
    col = _try_resolve(df, name)
    if col is None:
        raise KeyError(f"column '{name}' not found in {df.columns}")
    return col


def _try_resolve(df: DataFrame, name: str) -> Column | None:
    """Case-insensitive column resolution (reference omopcdm.py:144-150)."""
    actual = _try_resolve_name(df, name)
    return F.col(actual) if actual is not None else None


def _try_resolve_name(df: DataFrame, name: str) -> str | None:
    """The ACTUAL column name behind a case-insensitive reference — the
    SQL-text builder emits names, not Column handles.

    Misses are silent BY DESIGN (the reference skips unknown source fields)
    — except when a _pruned_columns_guard scope is active: inside it a miss
    on a column that existed in the UNPROJECTED header means the
    _needed_file_columns collector drifted from the compile-side
    enumeration, and returning None would produce silently wrong OMOP
    output. Fail loudly instead."""
    lower = {c.lower(): c for c in df.columns}
    actual = lower.get(name.lower())
    if actual is None:
        dropped = getattr(_PRUNE_GUARD, "dropped", None)
        if dropped and name.lower() in dropped:
            raise RuntimeError(
                f"column '{name}' was pruned from the per-file cache by "
                f"_needed_file_columns but the compile stage references it — "
                f"the projection collector drifted from the compile-side "
                f"field enumeration (add the field to _needed_file_columns)"
            )
    return actual


_PRUNE_GUARD = _threading.local()


@_contextmanager
def _pruned_columns_guard(dropped: frozenset[str] | None):
    """Scope in which a _try_resolve_name miss on a pruned-away column is a
    hard error (see _try_resolve_name). ``dropped``: lowercased original
    column names removed by the per-file cache projection; None/empty is a
    no-op scope. Nested scopes (threaded compile of several files) are
    per-thread, so concurrent files can't see each other's dropped sets."""
    prev = getattr(_PRUNE_GUARD, "dropped", None)
    _PRUNE_GUARD.dropped = dropped or None
    try:
        yield
    finally:
        _PRUNE_GUARD.dropped = prev


def _dest_order(cms) -> list[str]:
    """Every dest the mappings' value maps name, in first-appearance
    order."""
    return list(
        dict.fromkeys(d for cm in cms for dmap in cm.value_mappings.values() for d in dmap)
    )


def _dest_map_sql(dest_map: dict) -> str | None:
    """map<dest, array<concept id>> literal of the dests with ids; None
    when none has any."""
    pairs = [f"{_sql_str(d)}, {_sql_str_array(ids)}" for d, ids in dest_map.items() if ids]
    return f"map({', '.join(pairs)})" if pairs else None


def _case_sql(branches: list[str], tail: str | None) -> str | None:
    """CASE over the WHEN ``branches`` with ``tail`` as its ELSE (none when
    None); just ``tail`` without branches."""
    if not branches:
        return tail
    els = f" ELSE {tail}" if tail is not None else ""
    return f"CASE {' '.join(branches)}{els} END"


def _default_sql(schema: TableSchema, col: str) -> str:
    """SQL literal of an OMOP column's unwritten value: '0' for not-null
    numerics (P3, omopcdm.py:113-118, record_builder.py:28-37), else ''."""
    return "'0'" if col in schema.notnull_numeric_fields else "''"


def _sql_str(s: str) -> str:
    """Spark SQL string literal (backslash IS an escape char by default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_str_array(ids) -> str:
    """array<string> literal of concept ids."""
    return f"array({', '.join(_sql_str(str(x)) for x in ids)})"


def _sql_ident(name: str) -> str:
    """Backtick-quoted column reference."""
    return "`" + name.replace("`", "``") + "`"


def _concept_match(cell: Column, cms: list) -> Column:
    """True when the cell would match any of these ConceptMappings' concept
    rules (exact value, else wildcard) — the gate under which a record
    build proceeds."""
    out = None
    for cm in cms:
        if "*" in cm.value_mappings:
            one = F.lit(True)
        else:
            conds = [cell == F.lit(v) for v in cm.value_mappings if v != "*"]
            one = conds[0] if conds else F.lit(False)
            for c in conds[1:]:
                one = one | c
        out = one if out is None else out | one
    return out

