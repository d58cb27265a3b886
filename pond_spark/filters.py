"""FilterSpec — the full pond predicate surface (SURVEY.md §2.2, F1-F11)
compiled to a single Spark Column expression.

The reference evaluates all filters conjunctively in one combined
evaluator (/root/reference/src/Filter.cxx:64-82); multi-valued filters
(site/host/generator/method) are OR within the attribute
(/root/reference/src/Filter.cxx:22-26). The semantic corners encoded
here, each cited to the reference:

- **site**: NULL site is treated as the empty string before the set
  membership test (NullableStringView, /root/reference/src/Filter.cxx:
  15-19), so ``site=""`` matches records with no site
  (doc/index.rst:304-306).
- **host / generator**: the server-side MatchFilter requires a non-null
  value (/root/reference/src/Filter.cxx:22-26) — a NULL host never
  matches any set; ``host=""`` matches only empty-string hosts.
- **since/until**: both inclusive (/root/reference/src/Filter.hxx:42-47);
  a record *without* a timestamp fails the range check whenever a range
  is set.
- **status**: half-open ``begin <= status < end``
  (/root/reference/src/Filter.hxx:73-75); the client sends
  ``end = begin + 1`` for a single value
  (/root/reference/src/client/Main.cxx:195-212).
- **duration_longer**: ``valid_duration && duration >= D``
  (/root/reference/src/Filter.hxx:50-66) — NULL duration never matches.
- **method**: bitmask over the method enum
  (/root/reference/src/Protocol.hxx:153-158) → set membership here.
- **unsafe_method**: method present and not RFC-9110-safe
  (/root/reference/src/Filter.cxx:42); mutually exclusive with an
  explicit method set (/root/reference/src/Connection.cxx:552-567).
- **uri / uri-prefix**: exact match / starts-with on http_uri
  (/root/reference/src/Filter.cxx:28-35,46-47).

All predicates compile to built-in Column expressions, so Catalyst
pushes them into the Parquet scan (predicate pushdown + row-group
pruning) — the Spark-native analog of the reference's two-phase
SmallDatagram fast path (/root/reference/src/Filter.hxx:97-107).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from pond_spark.schema import SAFE_METHODS


class QueryValidationError(ValueError):
    """Raised for filter/query combinations the reference rejects
    (/root/reference/src/Connection.cxx:177-229,552-567)."""


@dataclass(frozen=True)
class FilterSpec:
    """Conjunction of pond filters. ``None``/empty means "not set"."""

    sites: frozenset[str] = frozenset()
    hosts: frozenset[str] = frozenset()
    generators: frozenset[str] = frozenset()
    type: str | None = None
    since: dt.datetime | None = None  # inclusive
    until: dt.datetime | None = None  # inclusive
    duration_longer_us: int | None = None
    status_begin: int | None = None  # half-open [begin, end)
    status_end: int | None = None
    methods: frozenset[str] = frozenset()
    unsafe_method: bool = False
    uri: str | None = None
    uri_prefix: str | None = None
    # column-name overrides so the same compiler serves any log-shaped table
    columns: dict[str, str] = field(default_factory=dict, hash=False, compare=False)

    def _col(self, name: str) -> Column:
        return F.col(self.columns.get(name, name))

    def validate(self) -> None:
        if self.unsafe_method and self.methods:
            # reference: "CommitQuery: FILTER_HTTP_METHOD and
            # FILTER_HTTP_UNSAFE_METHOD are mutually exclusive"
            raise QueryValidationError(
                "method= and unsafe_method are mutually exclusive"
            )
        if (self.status_begin is None) != (self.status_end is None):
            raise QueryValidationError("status range needs both begin and end")

    @property
    def has_one_site(self) -> bool:
        """Mirror of Filter::HasOneSite (/root/reference/src/Filter.hxx:
        86-89) — the reference's index-selection trigger. In Spark the
        equivalent pruning is automatic when ``site`` is a partition
        column; exposed for tests/plan assertions."""
        return len(self.sites) == 1

    def to_column(self) -> Column:
        """Compile to one conjunctive Column expression."""
        self.validate()
        preds: list[Column] = []

        if self.sites:
            # NULL site ⇒ "" before membership (Filter.cxx:15-19)
            preds.append(
                F.coalesce(self._col("site"), F.lit("")).isin(*sorted(self.sites))
            )
        if self.hosts:
            # NULL host never matches (Filter.cxx:22-26)
            preds.append(self._col("host").isin(*sorted(self.hosts)))
        if self.generators:
            preds.append(self._col("generator").isin(*sorted(self.generators)))
        if self.type is not None:
            preds.append(self._col("type") == F.lit(self.type))
        ts = self._col("timestamp")
        if self.since is not None:
            preds.append(ts >= F.lit(self.since))  # inclusive; NULL ts fails
        if self.until is not None:
            preds.append(ts <= F.lit(self.until))  # inclusive
        if self.duration_longer_us is not None:
            preds.append(self._col("duration_us") >= F.lit(self.duration_longer_us))
        if self.status_begin is not None:
            preds.append(
                (self._col("http_status") >= F.lit(self.status_begin))
                & (self._col("http_status") < F.lit(self.status_end))
            )
        if self.methods:
            preds.append(self._col("http_method").isin(*sorted(self.methods)))
        if self.unsafe_method:
            m = self._col("http_method")
            preds.append(m.isNotNull() & ~m.isin(*SAFE_METHODS))
        if self.uri is not None:
            preds.append(self._col("http_uri") == F.lit(self.uri))
        if self.uri_prefix is not None:
            preds.append(self._col("http_uri").startswith(self.uri_prefix))

        if not preds:
            return F.lit(True)
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    def to_sql(self, dialect: str = "duckdb") -> str:
        """Emit the equivalent ANSI-SQL predicate (for oracle checks)."""
        self.validate()
        preds: list[str] = []

        def col(name: str) -> str:
            return self.columns.get(name, name)

        def lit(v: str) -> str:
            return "'" + v.replace("'", "''") + "'"

        def strlist(vals) -> str:
            return ", ".join(lit(v) for v in sorted(vals))

        if self.sites:
            preds.append(f"coalesce({col('site')}, '') IN ({strlist(self.sites)})")
        if self.hosts:
            preds.append(f"{col('host')} IN ({strlist(self.hosts)})")
        if self.generators:
            preds.append(f"{col('generator')} IN ({strlist(self.generators)})")
        if self.type is not None:
            preds.append(f"{col('type')} = {lit(self.type)}")
        if self.since is not None:
            preds.append(f"{col('timestamp')} >= TIMESTAMP '{self.since}'")
        if self.until is not None:
            preds.append(f"{col('timestamp')} <= TIMESTAMP '{self.until}'")
        if self.duration_longer_us is not None:
            preds.append(f"{col('duration_us')} >= {self.duration_longer_us}")
        if self.status_begin is not None:
            preds.append(
                f"({col('http_status')} >= {self.status_begin}"
                f" AND {col('http_status')} < {self.status_end})"
            )
        if self.methods:
            preds.append(f"{col('http_method')} IN ({strlist(self.methods)})")
        if self.unsafe_method:
            m = col("http_method")
            preds.append(
                f"({m} IS NOT NULL AND {m} NOT IN ({strlist(SAFE_METHODS)}))"
            )
        if self.uri is not None:
            preds.append(f"{col('http_uri')} = {lit(self.uri)}")
        if self.uri_prefix is not None:
            preds.append(f"starts_with({col('http_uri')}, {lit(self.uri_prefix)})")
        return " AND ".join(preds) if preds else "TRUE"
