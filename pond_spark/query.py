"""Query — the pond query surface as a DataFrame builder.

Maps the reference's wire-protocol verbs (SURVEY.md §2.3) onto
declarative DataFrame plans and lets Catalyst pick the physical
strategy:

- forward filtered scan (Q1):   filter → orderBy(timestamp, id)
- index selection (Q2):         automatic (partition pruning / pushdown)
- LAST (Q3):                    orderBy desc → limit 1  (Spark compiles
                                to TakeOrderedAndProject — the analog of
                                the reference's reverse-scan seek,
                                /root/reference/src/Selection.cxx:103-114)
- WINDOW max@skip (Q4):         offset(skip).limit(max) after the sort
- GROUP_SITE max@skip (Q5):     site clustering in first-appearance
                                order with pagination over non-empty
                                sites (see group_site docstring)
- FOLLOW / CONTINUE (Q6/Q7):    pond_spark.streaming.follow
- mutual exclusions (Q8):       validated here with the reference's
                                rules (/root/reference/src/Connection.cxx:
                                177-229)

The canonical result order is ``(timestamp, id)`` — the reference's
chronological master list (insertion order, tie-broken by the monotonic
record id, /root/reference/src/Database.cxx:94). Spark has no implicit
order, so every ordered verb states it explicitly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pond_spark.filters import FilterSpec, QueryValidationError


@dataclass(frozen=True)
class WindowSpec:
    """WINDOW max@skip (/root/reference/src/Protocol.hxx:266-279)."""

    max: int
    skip: int = 0


class Query:
    """Builder over a log-shaped DataFrame.

    The three "hot" columns (the reference's SmallDatagram fast path,
    src/SmallDatagram.hxx:13-29) are the log schema's ``timestamp``,
    ``id`` and ``site``.
    """

    def __init__(self, df: DataFrame) -> None:
        self._df = df
        self._filter: FilterSpec | None = None
        self._window: WindowSpec | None = None
        self._group_site: WindowSpec | None = None
        self._last = False
        self._follow = False
        self._continue = False

    # -- verbs -----------------------------------------------------------

    def filter(self, spec: FilterSpec) -> "Query":
        self._filter = spec
        return self

    def window(self, max: int, skip: int = 0) -> "Query":
        self._window = WindowSpec(max=max, skip=skip)
        return self

    def group_site(self, max: int, skip: int = 0) -> "Query":
        self._group_site = WindowSpec(max=max, skip=skip)
        return self

    def last(self) -> "Query":
        self._last = True
        return self

    def follow(self) -> "Query":
        self._follow = True
        return self

    def continue_(self) -> "Query":
        self._continue = True
        return self

    # -- validation (Q8) -------------------------------------------------

    def validate(self) -> None:
        """The reference's CommitQuery exclusion rules
        (/root/reference/src/Connection.cxx:177-229)."""
        if self._filter is not None:
            self._filter.validate()
            if self._group_site is not None and self._filter.sites:
                raise QueryValidationError(
                    "FILTER_SITE and GROUP_SITE are mutually exclusive"
                )
        if self._follow and self._continue:
            raise QueryValidationError("FOLLOW and CONTINUE are mutually exclusive")
        if self._follow or self._continue:
            if self._group_site is not None:
                raise QueryValidationError(
                    "FOLLOW/CONTINUE and GROUP_SITE are mutually exclusive"
                )
            if self._window is not None:
                raise QueryValidationError(
                    "FOLLOW/CONTINUE and WINDOW are mutually exclusive"
                )
        if self._last:
            if self._group_site is not None:
                raise QueryValidationError("LAST and GROUP_SITE are mutually exclusive")
            if self._window is not None:
                raise QueryValidationError("LAST and WINDOW are mutually exclusive")
            if self._follow:
                raise QueryValidationError("LAST and FOLLOW are mutually exclusive")

    # -- plan ------------------------------------------------------------

    def _filtered(self) -> DataFrame:
        df = self._df
        if self._filter is not None:
            df = df.filter(self._filter.to_column())
        return df

    def to_df(self) -> DataFrame:
        """Build the batch plan (FOLLOW/CONTINUE are built by
        pond_spark.streaming.follow from the same spec)."""
        self.validate()
        ts, rid = F.col("timestamp"), F.col("id")
        df = self._filtered()

        if self._last:
            # Q3: reverse-seek top-1 → TakeOrderedAndProject(limit=1):
            # no global sort materializes, each partition keeps only its
            # best row — same work profile as the reference's backward
            # scan from LastUntil (/root/reference/src/Selection.cxx:52-73).
            return df.orderBy(ts.desc_nulls_last(), rid.desc()).limit(1)

        if self._group_site is not None:
            # the reference applies WINDOW over the grouped record
            # stream too (/root/reference/src/Connection.cxx:779-841) —
            # _apply_window runs after the group ordering
            return self._apply_window(self._group_site_plan(df))

        out = df.orderBy(ts.asc_nulls_first(), rid.asc())
        return self._apply_window(out)

    #: Spark's limit/offset take a Java 32-bit int; the reference's
    #: wire protocol carries uint64 and encodes "unlimited" as its max
    #: (window= with no value) — anything at or beyond the int range
    #: therefore means "no limit clause".
    _JAVA_INT_MAX = (1 << 31) - 1

    def _apply_window(self, out: DataFrame) -> DataFrame:
        if self._window is None:
            return out
        if self._window.skip:
            if self._window.skip > self._JAVA_INT_MAX:
                raise QueryValidationError(
                    f"window skip {self._window.skip} exceeds the engine's "
                    f"{self._JAVA_INT_MAX} offset bound"
                )
            out = out.offset(self._window.skip)
        if self._window.max < self._JAVA_INT_MAX:
            out = out.limit(self._window.max)
        return out

    def _group_site_plan(self, matches: DataFrame) -> DataFrame:
        """GROUP_SITE max@skip (Q5).

        Contract (/root/reference/src/Connection.cxx:137-175,755-770 and
        src/Database.hxx:87-91): emit all records of one site
        consecutively; sites ordered by *first appearance in the
        database* (site_list insertion order = min record id per site
        over the full table, not the filtered subset); paginate over
        non-empty sites only (skip `skip` matching sites, emit `max`).
        Records with no site live only on the master list and are not
        reachable via GROUP_SITE.

        Plan shape: a small (n_sites-row) first-seen ranking aggregated
        from the full table, broadcast-joined back to the matches —
        no global shuffle of the fact table beyond the final intra-site
        ordering.
        """
        spec = self._group_site
        site = F.col("site")

        first_seen = (
            self._df.filter(site.isNotNull())
            .groupBy("site")
            .agg(F.min("id").alias("_first_id"))
        )
        matched_sites = (
            matches.filter(site.isNotNull())
            .select("site")
            .distinct()
            .join(F.broadcast(first_seen), "site")
        )
        ranked = matched_sites.withColumn(
            "_site_rank",
            F.row_number().over(Window.orderBy(F.col("_first_id").asc())),
        ).filter(
            (F.col("_site_rank") > spec.skip)
            & (F.col("_site_rank") <= spec.skip + spec.max)
        )
        out_cols = matches.columns
        return (
            matches.join(
                F.broadcast(ranked.select("site", "_site_rank")), "site"
            )
            .orderBy(
                F.col("_site_rank").asc(),
                F.col("timestamp").asc_nulls_first(),
                F.col("id").asc(),
            )
            .select(*out_cols)
        )
