"""The transactional table as a Python DataSource with FILTER
PUSHDOWN — ``spark.read.format("txtable").option("path", p)``.

``tx_view`` (round 9) gave `spark.sql` a NAME for the table, but the
registered relation is a resolved snapshot: a SQL ``WHERE`` runs
after the scan and every live file is opened.  This source closes the
remaining gap with Spark 4.1's Python DataSource filter-pushdown API:

- ``pushFilters`` translates the planner's conjunction (EqualTo /
  GreaterThan[OrEqual] / LessThan[OrEqual] / In / IsNull / IsNotNull
  on top-level columns) into the engine's clause tuples;
- ``partitions()`` runs :func:`txtable.prune_files` over the logged
  per-file min/max stats AND Bloom filters — files provably without a
  match never become tasks;
- each surviving file is ONE input partition whose ``read`` is an
  executor-side pyarrow read of that file alone: column-mapping
  projection onto logical names, pre-evolution columns null-filled,
  deletion-vector positions anti-filtered — the same resolved read
  :func:`txtable.read_table` produces, returned as Arrow batches
  (the fast path across the Python boundary).

Filters the source fully understands (the clause ops on top-level
columns of scalar types) are RETAINED — pruned at planning AND
row-filtered again inside ``read`` (pyarrow compute), so the scan's
output is exact; everything else is returned for Spark's post-scan
evaluation.

Pushdown is OPT-IN via ``option("pushdown", "true")``, and the opted-
in pattern is ONE ``load()`` PER QUERY.  Measured on Spark 4.1: a
temp view shares one cached scan slot per relation, a filtered query
REPLACES it with its pushdown-specialized scan, and a later
filter-less query over the same view reuses that specialized scan —
silently missing rows.  A fresh ``load()`` gives each query its own
relation and scan slot, so the hazard cannot arise; without the
option the source never specializes a scan and a shared view is safe
for any query mix.  Options: ``path`` (required), ``version`` /
``as_of`` (time travel), ``pushdown`` (see above).

At cluster scale each file-partition is an independent task reading
one parquet object from shared storage — the same task shape Spark's
native parquet scan plans, with the file LIST coming from the commit
log instead of a directory walk.  The per-row Python/Arrow boundary
tax applies (this is the portability surface, not a replacement for
the JVM scan `read_table` uses); the pruning benefit is identical.

No equivalent in the reference (432-line pipeline, no sources beyond
a Python generator); the API shape follows the public Spark 4.1
``pyspark.sql.datasource`` filter-pushdown contract.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)
from pyspark.sql.types import StructType

_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


class _FilePartition(InputPartition):
    """One live data file + the DV sidecar (if any) holding its dead
    row positions, plus the schema logged AT the read version (so a
    time-travel read projects the names/types of THAT version, and
    executor tasks never re-fold the log)."""

    def __init__(
        self,
        table: str,
        name: str,
        sidecar: str | None,
        schema_json: str,
        clauses: Sequence[tuple] = (),
    ) -> None:
        self.table = table
        self.name = name
        self.sidecar = sidecar
        self.schema_json = schema_json
        self.clauses = list(clauses)


class TxTableReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType | None = None) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "txtable source: option 'path' (the table root) is required"
            )
        self.path = os.path.abspath(path)
        self.version = (
            int(options["version"]) if options.get("version") else None
        )
        if options.get("as_of"):
            from event_streaming_toy_example_spark.operators import (
                txtable as tx,
            )

            if self.version is not None:
                raise ValueError("txtable source: pass version OR as_of")
            self.version = tx.version_as_of(
                self.path, float(options["as_of"])
            )
        self.clauses: list[tuple] = []
        self.pushdown = str(options.get("pushdown", "")).lower() == "true"
        if schema is None:
            from event_streaming_toy_example_spark.operators import (
                txtable as tx,
            )

            snap = tx.snapshot(self.path, self.version)
            schema = (
                StructType.fromJson(json.loads(snap.schema))
                if snap is not None
                else StructType([])
            )
        self._types = {f.name: f.dataType.typeName() for f in schema.fields}

    def _translatable(self, col: str) -> bool:
        """Only scalar top-level columns take retained filters — the
        read-side pyarrow re-filter must implement the EXACT
        semantics, so anything else stays Spark's job."""
        ok = {"byte", "short", "integer", "long", "float", "double",
              "string", "boolean", "date", "timestamp", "timestamp_ntz"}
        t = self._types.get(col)
        return isinstance(t, str) and t in ok

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """ACCEPT (retain) the filters the source fully implements —
        clause ops on scalar top-level columns: those prune the file
        list in ``partitions()`` AND are re-applied row-exactly in
        ``read``.  Everything else is yielded back for Spark's
        post-scan evaluation.

        Retaining (rather than returning everything) is load-bearing:
        the accepted-pushdown set is part of the scan's identity, and
        a cached scan is reused for a later query over the same temp
        view only when that identity matches — a source that pruned
        while claiming "nothing pushed" would leak one query's pruning
        into the next query's scan (measured: a filterless count after
        a filtered one returned the filtered rows)."""
        self.clauses = []
        if not self.pushdown:
            # not opted in: never specialize the scan, so a shared
            # temp view stays correct for any query mix (see module
            # docstring for the measured Spark 4.1 scan-reuse hazard)
            yield from filters
            return
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            clause = None
            if col is not None and self._translatable(col):
                op = _OPS.get(type(f))
                if op is not None and f.value is not None:
                    clause = (col, op, f.value)
                elif isinstance(f, In) and all(
                    v is not None for v in f.value
                ):
                    clause = (col, "in", tuple(f.value))
                elif isinstance(f, IsNull):
                    clause = (col, "isnull", None)
                elif isinstance(f, IsNotNull):
                    clause = (col, "notnull", None)
            if clause is not None:
                self.clauses.append(clause)
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        from event_streaming_toy_example_spark.operators import txtable as tx

        clauses = self.clauses
        snap = tx.snapshot(self.path, self.version)
        if snap is None:
            return [_FilePartition(self.path, "", None, "")]  # no table
        if clauses:
            files, _skip = tx.prune_files(self.path, clauses, snap=snap)
        else:
            files = list(snap.files)
        if not files:
            # the API requires >= 1 partition; an empty sentinel reads
            # nothing
            return [_FilePartition(self.path, "", None, snap.schema)]
        dvs = snap.dvs or {}
        return [
            _FilePartition(
                self.path, f, dvs.get(f), snap.schema, clauses
            )
            for f in files
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file_partition(partition)


def _read_file_partition(partition: _FilePartition) -> Iterator:
    """Executor-side resolved read of ONE data file: DV anti-filter,
    column-mapping projection onto the logged schema (null-filling
    pre-evolution columns), retained clauses re-applied row-exactly.
    Shared by the batch reader and the streaming reader — identical
    row semantics on both paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not partition.name:
        return
    from event_streaming_toy_example_spark.operators import txtable as tx

    target = StructType.fromJson(json.loads(partition.schema_json))
    full = os.path.join(partition.table, partition.name)
    t = pq.read_table(full)
    # deletion vector: drop dead positions for THIS file
    if partition.sidecar is not None:
        sc = pq.read_table(
            os.path.join(partition.table, partition.sidecar),
            columns=["file", "pos"],
        )
        import pyarrow.compute as pc

        # sidecar rows name files exactly as the snapshot does
        # (table-relative; absolute for cloned references)
        dead = sorted(
            sc.filter(
                pc.equal(sc.column("file"), partition.name)
            )
            .column("pos")
            .to_pylist()
        )
        if dead:
            dead_set = set(dead)
            keep = [
                i for i in range(t.num_rows) if i not in dead_set
            ]
            t = t.take(pa.array(keep, pa.int64()))
    # column mapping: project physical names onto logical, null-
    # filling columns this (pre-evolution) file does not carry
    from pyspark.sql.pandas.types import to_arrow_type

    cols, names = [], []
    for f in target.fields:
        phys = tx._field_phys(f)
        at = to_arrow_type(f.dataType)
        if phys in t.column_names:
            cols.append(t.column(phys).cast(at))
        else:
            cols.append(pa.nulls(t.num_rows, at))
        names.append(f.name)
    out = pa.table(dict(zip(names, cols)))
    # RETAINED filters are the source's responsibility: re-apply
    # them row-exactly (pruning only skipped whole files; a
    # surviving file still holds non-matching rows).  SQL
    # comparison semantics: NULL never satisfies — arrow's
    # comparisons yield null there and Table.filter drops them.
    if partition.clauses and out.num_rows:
        import pyarrow.compute as pc

        mask = None
        for col, op, val in partition.clauses:
            c = out.column(col)
            if op in ("=", "=="):
                m = pc.equal(c, pa.scalar(val, c.type))
            elif op == "<":
                m = pc.less(c, pa.scalar(val, c.type))
            elif op == "<=":
                m = pc.less_equal(c, pa.scalar(val, c.type))
            elif op == ">":
                m = pc.greater(c, pa.scalar(val, c.type))
            elif op == ">=":
                m = pc.greater_equal(c, pa.scalar(val, c.type))
            elif op == "in":
                m = pc.is_in(c, value_set=pa.array(list(val), c.type))
            elif op == "isnull":
                m = pc.is_null(c)
            elif op == "notnull":
                m = pc.is_valid(c)
            else:  # pragma: no cover - pushFilters only emits the above
                raise ValueError(f"untranslated retained op {op!r}")
            mask = m if mask is None else pc.and_kleene(mask, m)
        out = out.filter(mask)
    for batch in out.to_batches(max_chunksize=1 << 16):
        yield batch


try:
    from pyspark.sql.datasource import DataSourceStreamReader
except ImportError:  # pragma: no cover - older runtime
    DataSourceStreamReader = None  # type: ignore[assignment]


def _parse_where_option(raw: str | None) -> list[tuple]:
    """The streaming source's clause pushdown rides an OPTION (Spark
    4.1's Python STREAMING DataSource API has no planner ``pushFilters``
    hook): ``where='[["k", ">=", 10], ["s", "=", "x"]]'`` — the same
    ``(col, op, value)`` clause tuples the batch reader translates from
    planner filters, stats/bloom-pruned per commit and re-applied
    row-exactly in-read."""
    if not raw:
        return []
    clauses = json.loads(raw)
    ok_ops = {"=", "==", "<", "<=", ">", ">=", "in", "isnull", "notnull"}
    out = []
    for c in clauses:
        if not isinstance(c, list) or len(c) != 3 or c[1] not in ok_ops:
            raise ValueError(
                f"txtable stream: cannot parse where clause {c!r} — "
                'expected [col, op, value] with op in '
                f"{sorted(ok_ops)}"
            )
        val = tuple(c[2]) if c[1] == "in" else c[2]
        out.append((c[0], c[1], val))
    return out


if DataSourceStreamReader is not None:

    class TxTableStreamReader(DataSourceStreamReader):
        """``spark.readStream.format("txtable")`` — the table's APPEND
        STREAM: offset = committed log version (``sources/txfeed.py``'s
        contract over the immutable log), each micro-batch's work =
        ONE EXECUTOR TASK PER DATA FILE the batch's commits added (the
        batch reader's partition-per-file shape), each task the same
        resolved pyarrow read (column-mapping projection onto the
        stream's schema, null-filled pre-evolution columns, option
        clauses stats/bloom-pruned at planning and re-applied
        row-exactly).

        Commit semantics follow Delta's streaming source: APPEND
        commits stream their added files; a commit that REMOVED files
        (delete/update/merge rewrites) raises BY NAME unless
        ``skipChangeCommits=true`` (skip it entirely) or
        ``ignoreChanges=true`` (stream its added files — rewritten
        rows re-deliver, Delta's documented caveat); compaction and
        z-order rewrites are content-invariant by contract and always
        skip.  Files stream DV-free: a deletion vector attaches only
        in LATER commits, and at its add commit a file's rows are
        exactly the appended rows.

        Restart exactly-once: offsets live in the query checkpoint;
        the engine's recovery re-plan (``partitions(committed,
        committed)``) advances the admission-control base before any
        ``latestOffset`` cap computes — the same order
        ``TxFeedPartitionedStreamReader`` pins in
        ``tests/test_txfeed.py``."""

        def __init__(self, options: dict) -> None:
            from event_streaming_toy_example_spark.operators import (
                txtable as tx,
            )
            from event_streaming_toy_example_spark.sources.txfeed import (
                _resolve_start,
            )

            path = options.get("path")
            if not path:
                raise ValueError(
                    "txtable stream: option 'path' (the table root) is "
                    "required"
                )
            self.path = os.path.abspath(path)
            self.start = _resolve_start(self.path, options)
            self.per_batch = int(options.get("maxversionsperbatch", "0"))
            self.clauses = _parse_where_option(options.get("where"))
            self.skip_change = (
                str(options.get("skipchangecommits", "")).lower() == "true"
            )
            self.ignore_changes = (
                str(options.get("ignorechanges", "")).lower() == "true"
            )
            snap = tx.snapshot(self.path)
            if snap is None:
                raise ValueError(
                    f"txtable stream on a table with no commits: {path}"
                )
            self._schema_json = snap.schema
            self._hwm = self.start
            self._floor = self.start

        def initialOffset(self) -> dict:
            return {"version": self.start}

        def latestOffset(self) -> dict:
            from event_streaming_toy_example_spark.operators import (
                txtable as tx,
            )

            cur = tx.table_version(self.path)
            if self.per_batch > 0:
                cur = min(cur, self._hwm + self.per_batch)
            end = max(cur, self._hwm)
            self._hwm = end
            return {"version": end}

        def _commit_adds(self, version: int) -> list[str]:
            from event_streaming_toy_example_spark.operators import (
                txtable as tx,
            )

            c = tx._read_commit(self.path, version)
            if c.action == "compact":
                return []  # content-invariant by contract
            # a commit CHANGES existing rows if it removed files OR
            # attached deletion vectors (merge-on-read deletes/updates
            # commit with remove=[] and dv set; a clone's first commit
            # carries inherited DVs the same way) — both shapes an
            # append stream cannot represent
            if c.remove or c.dv:
                if self.skip_change:
                    return []
                if not self.ignore_changes:
                    raise ValueError(
                        f"txtable stream: commit {version} at "
                        f"{self.path} is a data CHANGE ({c.action}: "
                        f"{len(c.remove)} file(s) removed, "
                        f"{len(c.dv or {})} deletion vector(s)); an "
                        "append stream cannot represent it — pass "
                        "skipChangeCommits=true to skip such commits, "
                        "or ignoreChanges=true to stream their added "
                        "files (rewritten rows re-deliver; DV'd-out "
                        "rows re-deliver undeleted)"
                    )
            if not self.clauses:
                return list(c.add)
            pm = tx._phys_map(self._schema_json)
            pw = [
                (tx._phys_clause_col(pm, col), op, v)
                for col, op, v in self.clauses
            ]
            return [
                f
                for f in c.add
                if all(
                    tx._clause_may_match(
                        (c.stats or {}).get(f), col, op, v
                    )
                    for col, op, v in pw
                )
            ]

        def partitions(self, start: dict, end: dict):
            s, e = int(start["version"]), int(end["version"])
            self._hwm = max(self._hwm, s, e)
            lo = max(s, self._floor)
            self._floor = max(self._floor, lo, e)
            out = []
            for v in range(lo + 1, e + 1):
                for f in self._commit_adds(v):
                    out.append(
                        _FilePartition(
                            self.path, f, None, self._schema_json,
                            self.clauses,
                        )
                    )
            if not out:
                # the API requires >= 1 partition; the empty sentinel
                # reads nothing
                out.append(
                    _FilePartition(self.path, "", None, self._schema_json)
                )
            return out

        def read(self, partition: _FilePartition) -> Iterator:
            return _read_file_partition(partition)

        def commit(self, end: dict) -> None:
            pass  # offsets are durable in the query checkpoint


class TxTableDataSource(DataSource):
    """``spark.read.format("txtable")`` — see the module docstring."""

    def __init__(self, options: dict) -> None:
        super().__init__(options)

    @classmethod
    def name(cls) -> str:
        return "txtable"

    def schema(self) -> str:
        from event_streaming_toy_example_spark.operators import txtable as tx

        path = self.options.get("path")
        if not path:
            raise ValueError(
                "txtable source: option 'path' (the table root) is required"
            )
        version = (
            int(self.options["version"])
            if self.options.get("version")
            else None
        )
        # resolve as_of exactly as TxTableReader.__init__ does: the
        # relation schema must be the one logged AT the read version —
        # after a schema evolution the latest schema would not match
        # the Arrow batch columns read() projects (ADVICE r10)
        if self.options.get("as_of"):
            if version is not None:
                raise ValueError("txtable source: pass version OR as_of")
            version = tx.version_as_of(
                os.path.abspath(path), float(self.options["as_of"])
            )
        snap = tx.snapshot(os.path.abspath(path), version)
        if snap is None:
            raise ValueError(f"txtable source: no commits at {path}")
        return StructType.fromJson(json.loads(snap.schema))

    def reader(self, schema: StructType) -> TxTableReader:
        return TxTableReader(dict(self.options), schema)

    def streamReader(self, schema: StructType):
        if DataSourceStreamReader is None:  # pragma: no cover
            raise NotImplementedError(
                "pyspark.sql.datasource.DataSourceStreamReader "
                "unavailable in this runtime"
            )
        return TxTableStreamReader(dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool):
        """``df.writeStream.format("txtable")`` — exactly-once
        micro-batch commits through the table log; see
        :mod:`~event_streaming_toy_example_spark.sources.txsink`."""
        from event_streaming_toy_example_spark.sources.txsink import (
            stream_writer,
        )

        return stream_writer(dict(self.options), schema, overwrite)


def register(spark) -> None:
    """Idempotently register the source with a session — and make
    that session the JVM's ACTIVE one.  Python data-source LOOKUP
    resolves through the active session's DataSourceManager, not the
    session the reader/writer was built on (verified on Spark 4.1: a
    sibling ``newSession`` left active makes ``format("txtable")``
    raise DATA_SOURCE_NOT_FOUND even though ``register`` ran on the
    correct session), so the register-then-build flow every caller
    uses must pin activeness here."""
    spark.dataSource.register(TxTableDataSource)
    try:
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:  # pragma: no cover - connect-mode / future API
        pass
