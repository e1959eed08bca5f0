"""Incrementally-maintained aggregate materialization over a MuraTable.

An ``IncrementalAggView`` is a MuraTable holding
``source.groupBy(keys).agg(...)`` where every aggregate is MERGEABLE
(sum / count / min / max — avg is sum+count composed at read time — and
approx_distinct, materialized as a Datasketches HLL sketch whose
partials union losslessly), kept current by :meth:`refresh`:

- **O(delta) when the source history is append-only**: the refresh reads
  ONLY the files added since the last processed source version (the
  insert slices of ``MuraTable.changes_feed`` — manifest diffs, no table
  scan), pre-aggregates them, combines with the view's current rows for
  just the touched keys, and upserts via the view table's
  partition-pruned COW merge. A day's
  ingest into a 100 TB table refreshes the rollup at the cost of the
  day's files, never the table.
- **O(changed rows) under DML too, when retraction is possible**: a
  range containing merge/delete/update/compact commits refreshes from
  the source's row-level Change Data Feed — inserts/postimages add,
  deletes/preimages SUBTRACT — provided every aggregate is
  subtractable (sum/count; min/max/approx_distinct cannot retract a
  departed extremum) and the source recorded CDF sidecars. A hidden
  ``__n`` row-count partial marks groups whose rows are all gone;
  ``read()`` filters them, so the view equals a from-scratch rebuild.
- **Loud fallback otherwise**: whole-table source commits
  (overwrite/restore), non-subtractable aggregates under DML, DML
  committed while the source had ``cdf=False``, or a vacuumed-away
  baseline manifest downgrade that refresh to a full recompute of the
  source snapshot. Metadata-only source commits (constraints, bloom
  retrofits) change no rows and never break the fast path. The refresh
  result says which mode ran; correctness never depends on the fast
  path applying.
- **Exactly-once by construction**: the new source watermark rides the
  SAME manifest commit as the refreshed data (``meta`` commit metadata,
  the Delta userMetadata pattern). A crash before the commit leaves the
  old watermark and old data (rerun = same delta, same result); there is
  no window where data moved but the watermark didn't.

Numeric note: for DOUBLE columns, sum-of-partials differs from a
one-pass sum in the last ulp (float addition is not associative) — the
same caveat any partial-aggregation plan has, including Spark's own
map-side combine. Use DECIMAL for exact money totals; the view pins the
decimal type against per-refresh re-widening.

min/max are safe here precisely because the incremental path is gated on
append-only history: appends can only extend a key's min down / max up,
both mergeable. Deletions in the source arrive as non-append commits and
take the full-recompute path, where min/max are recomputed from scratch.

This is the relational twin of the streaming sink (table_stream.py): the
same additive-partial pattern, driven by table versions instead of
micro-batches, and restartable from the manifest log instead of a
checkpoint dir. The reference has no incremental surface at all
(/root/reference/src/execution/mod.rs is a read-only parquet scan); this
serves the 100 TB pipeline story (SURVEY.md north-star extensions).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mura_spark.sources.table_format import FEED_KINDS, MuraTable

_META_KEY = "incremental_view"

#: aggregate kind -> (initial aggregate fn, combine fn). Combining
#: partial counts is a SUM; everything else combines with itself.
#: approx_distinct stores a Datasketches HLL sketch (binary) — the
#: canonical mergeable-NDV state: partial sketches union losslessly
#: (register-wise max, associative for one lgConfigK), so an O(delta)
#: refresh maintains distinct counts no exact counter can maintain
#: incrementally (exact NDV is not mergeable without keeping the full
#: value set). read() presents the estimate; read(raw=True) the bytes.
_AGG_INIT = {"sum": F.sum, "count": lambda c: F.count(F.lit(1)),
             "min": F.min, "max": F.max,
             "approx_distinct": F.hll_sketch_agg}
_AGG_COMBINE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max,
                "approx_distinct": F.hll_union_agg}

#: feed kinds (table_format.FEED_KINDS) of source commits that keep the
#: append fast path valid: inserts, and metadata-only commits, which
#: feed nothing
_APPEND_KINDS = {"insert", "meta"}

#: feed kinds whose row deltas the CDF expresses exactly (a rewrite
#: feeds nothing — rows unchanged; a DML sidecar feeds pre/post images
#: and deletes)
_ROW_DELTA_KINDS = {"sidecar", "rewrite"}


@dataclass(frozen=True)
class RefreshResult:
    mode: str            # "noop" | "incremental" | "full"
    source_from: int     # watermark before the refresh
    source_to: int       # watermark after the refresh
    reason: str = ""     # why a full refresh was taken


class IncrementalAggView:
    """Handle to a materialized aggregate view rooted at ``path``.

    Construct via :meth:`create` (initial full build) or :meth:`load`.
    The view's MuraTable is maintainer-owned: write to it only through
    :meth:`refresh`, or the stored watermark stops describing the rows.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.table = MuraTable(spark, path)

    # --------------------------------------------------------- state

    def _state(self) -> dict:
        """Newest commit metadata carrying the view spec + watermark.
        Walks manifests newest-first and stops at the first hit — the
        latest commit IS a refresh commit in the steady state, so this
        reads ONE manifest, not the whole log (a long-lived view
        accumulates thousands)."""
        for v in reversed(self.table._versions()):
            meta = (self.table._manifest(v).get("meta")
                    or {}).get(_META_KEY)
            if meta is not None:
                return meta
        raise ValueError(
            f"{self.path} has no {_META_KEY} commit metadata — not an "
            f"IncrementalAggView (or its history was fully rewritten)")

    # ----------------------------------------------------- aggregates

    @staticmethod
    def _check_aggs(aggs: dict) -> None:
        for out, (kind, _col) in aggs.items():
            if out.startswith("__"):
                raise ValueError(
                    f"aggregate name {out!r} is reserved (double "
                    f"underscore prefix is maintainer-internal)")
            if kind not in _AGG_INIT:
                raise ValueError(
                    f"aggregate {out!r}: kind {kind!r} is not mergeable "
                    f"(supported: {sorted(_AGG_INIT)}; express avg as "
                    f"sum+count and divide at read time)")

    @staticmethod
    def _aggregate_feed(feed: DataFrame, keys: list[str],
                        aggs: dict) -> DataFrame:
        """SIGNED partial aggregation of a row-level change feed:
        inserts/postimages contribute +, deletes/preimages contribute
        -, so summing the partials into the view applies exact row
        deltas. Only sum and count are subtractable (min/max/HLL are
        not — a deleted extremum cannot be retracted from a partial);
        the caller gates on that."""
        sign_pos = F.col("_change_type").isin("insert",
                                              "update_postimage")
        exprs = []
        for out, (kind, col) in aggs.items():
            if kind == "sum":
                exprs.append(F.sum(F.when(sign_pos, F.col(col))
                                    .otherwise(-F.col(col)))
                             .alias(out))
            elif kind == "count":
                exprs.append(F.sum(F.when(sign_pos, F.lit(1))
                                    .otherwise(F.lit(-1)))
                             .alias(out))
            else:  # pragma: no cover - gated by the caller
                raise AssertionError(f"{kind} is not subtractable")
        return feed.groupBy(*keys).agg(*exprs)

    @staticmethod
    def _aggregate(df: DataFrame, keys: list[str], aggs: dict,
                   fns: dict, on_output: bool = False) -> DataFrame:
        """Aggregate ``df`` with ``fns``. Initial pass (on_output=False)
        reads the SOURCE columns; combine pass (on_output=True) re-reads
        the view's OUTPUT columns (partials combining with partials)."""
        return df.groupBy(*keys).agg(
            *[fns[kind](out if on_output else col).alias(out)
              for out, (kind, col) in aggs.items()])

    @staticmethod
    def _cast_like(df: DataFrame, template: DataFrame) -> DataFrame:
        """Pin ``df``'s column types to ``template``'s — combining
        sums re-widens decimals (sum(decimal(p,s)) -> decimal(p+10,s)),
        which would drift the view schema a little wider every refresh."""
        types = {f.name: f.dataType for f in template.schema.fields}
        return df.select(*[F.col(c).cast(types[c]).alias(c)
                           for c in template.columns])

    # ------------------------------------------------------ lifecycle

    @classmethod
    def create(cls, spark: SparkSession, path: str, source: MuraTable,
               keys: list[str], aggs: dict[str, tuple[str, str]],
               partition_cols: list[str] | None = None,
               ) -> "IncrementalAggView":
        """Full initial build of ``source.groupBy(keys)`` at the source's
        current version. ``aggs`` maps output column -> (kind, source
        column) with kind in sum|count|min|max (count ignores the column).
        ``partition_cols`` (a subset of ``keys``) partitions the view so
        refreshes rewrite only the key ranges the delta touches."""
        cls._check_aggs(aggs)
        if partition_cols and not set(partition_cols) <= set(keys):
            raise ValueError("partition_cols must be a subset of keys")
        # hidden row-count partial: lets read() drop groups whose rows
        # have all been deleted (the CDF fast path never removes view
        # rows, it zeroes them) and gates that fast path's availability
        aggs = {**aggs, "__n": ("count", keys[0])}
        src_version = source._manifest()["version"]
        df = cls._aggregate(source.read(version=src_version), keys,
                            aggs, _AGG_INIT)
        MuraTable.create(spark, path, df, partition_cols=partition_cols,
                         meta={_META_KEY: {
                             "source_path": source.path,
                             "source_version": src_version,
                             "keys": keys,
                             "aggs": {k: list(v) for k, v in aggs.items()},
                         }})
        return cls(spark, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IncrementalAggView":
        v = cls(spark, path)
        v._state()  # existence + shape check
        return v

    # ----------------------------------------------------------- read

    def read(self, version: int | None = None,
             raw: bool = False) -> DataFrame:
        """The materialized aggregate (time travel via ``version``).
        ``approx_distinct`` columns materialize as HLL sketch bytes;
        by default they present as the NDV estimate (bigint) under the
        same name — pass ``raw=True`` for the sketch bytes (e.g. to
        union further downstream)."""
        df = self.table.read(version=version)
        if raw:
            return df
        if "__n" in df.columns:
            # zeroed groups are DELETED groups (the CDF fast path
            # retracts contributions but never removes rows)
            df = df.where(F.col("__n") > 0).drop("__n")
        aggs = {k: tuple(v) for k, v in self._state()["aggs"].items()}
        sketchy = [out for out, (kind, _c) in aggs.items()
                   if kind == "approx_distinct"]
        if not sketchy:
            return df
        return df.select(*[
            F.hll_sketch_estimate(F.col(c)).alias(c) if c in sketchy
            else F.col(c) for c in df.columns])

    # -------------------------------------------------------- refresh

    def refresh(self, max_retries: int = 3) -> RefreshResult:
        """Advance the view to the source's current version.

        Concurrency: if another maintainer commits the view first
        (CommitConflict), the refresh rebases — re-reads the fresh
        watermark and retries, up to ``max_retries`` times (the retry
        is safe because every attempt derives everything from the
        then-current state; a racing refresh that already absorbed the
        delta turns the retry into a noop). The final conflict
        propagates so a livelock is loud."""
        from mura_spark.sources.table_format import CommitConflict
        for attempt in range(max_retries + 1):
            try:
                return self._refresh_once()
            except CommitConflict:
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def _refresh_once(self) -> RefreshResult:
        state = self._state()
        keys, aggs = state["keys"], {k: tuple(v) for k, v
                                     in state["aggs"].items()}
        source = MuraTable.load(self.spark, state["source_path"])
        here, there = state["source_version"], source._manifest()["version"]
        if there == here:
            return RefreshResult("noop", here, there)
        new_meta = {_META_KEY: {**state, "source_version": there}}

        reason, dml = "", False
        try:
            actions = {source._manifest(v)["action"]
                       for v in range(here + 1, there + 1)}
            extra = sorted(a for a in actions
                           if FEED_KINDS.get(a) not in _APPEND_KINDS)
            if extra:
                subtractable = all(
                    kind in ("sum", "count")
                    for kind, _c in aggs.values())
                if any(FEED_KINDS.get(a) not in _ROW_DELTA_KINDS
                       for a in extra):
                    reason = (f"whole-table source commit(s) "
                              f"{extra} in ({here}, {there}]")
                elif not (subtractable and "__n" in aggs):
                    reason = (f"source commit(s) {extra} "
                              f"need row-delta retraction, but the "
                              f"view holds non-subtractable "
                              f"aggregates (min/max/approx_distinct)")
                else:
                    dml = True
        except ValueError:
            reason = (f"source history ({here}, {there}] partially "
                      f"vacuumed — manifest diff unavailable")

        # the feed plan can itself refuse (DML committed while the
        # source had cdf=False, or a vacuumed baseline manifest) —
        # downgrade loudly, never guess
        feed = None
        if not reason:
            try:
                feed = source.changes_feed(here, there)
            except ValueError as e:
                reason = str(e)

        if reason:
            full = self._aggregate(source.read(version=there), keys,
                                   aggs, _AGG_INIT)
            self.table.overwrite(full, meta=new_meta)
            return RefreshResult("full", here, there, reason)

        # raw=True: the combine pass unions stored sketch PARTIALS;
        # estimates are a read-time presentation only
        view_now = self.read(raw=True)
        delta = self._cast_like(
            self._aggregate_feed(feed, keys, aggs) if dml
            else self._aggregate(feed, keys, aggs, _AGG_INIT), view_now)
        # materialize the delta ONCE: it is consumed three more times
        # below (touched-keys distinct, the combine union, and the
        # merge's ambiguity check) — without the checkpoint each
        # consumer re-aggregates the change files, and the emptiness
        # probe alone costs a full delta pass. The checkpoint is
        # key-count-bounded (one row per touched group), never
        # delta-row-sized.
        delta = delta.localCheckpoint(eager=True)
        if not delta.head(1):
            # zero-row delta (e.g. an empty append): still advance the
            # watermark — a commit with no new data files
            self.table.append(view_now.limit(0), meta=new_meta)
            return RefreshResult("incremental", here, there,
                                 "empty delta")
        # current view rows for ONLY the touched keys; union the two
        # partial frames and combine — count partials combine via SUM.
        # NULL-SAFE key match: a NULL group key is a real group in
        # groupBy/merge semantics, so the semi join must see it too —
        # plain `on=keys` equality would skip the view's NULL-key row
        # and the merge (itself null-safe) would then overwrite it
        # with delta-only partials, silently losing history
        touched = delta.select(*keys).distinct().alias("d")
        v = view_now.alias("v")
        cond = None
        for k in keys:
            e = F.col(f"v.{k}").eqNullSafe(F.col(f"d.{k}"))
            cond = e if cond is None else cond & e
        current = v.join(touched, on=cond, how="left_semi")
        combined = self._cast_like(
            self._aggregate(current.unionByName(delta), keys, aggs,
                            _AGG_COMBINE, on_output=True), view_now)
        # trust_source_unique: `combined` is a groupBy(*keys) aggregate,
        # so key uniqueness holds by construction — the merge's ambiguity
        # pre-pass (an AQE incremental limit-collect, ~4 Spark jobs)
        # would re-prove a structural invariant every refresh
        self.table.merge(combined, key_cols=keys, meta=new_meta,
                         trust_source_unique=True)
        return RefreshResult("incremental", here, there)
