"""SQL-database external tables as a LIVE Python DataSource.

The reference's DB tables are federated providers — always-live, with
filters pushed to the source database (``beacon-db/beacon-sql-databases``
on datafusion-table-providers/-federation). The Spark analog mirrors
``server/remote_datasource.py``: registering ``STORED AS POSTGRES|MYSQL``
builds a ``beacon_sqldb`` scan whose

  - reads are LIVE — every query re-executes against the database
    (no snapshot staleness), on an EXECUTOR, never through the driver;
  - supported predicates push into the database's ``WHERE`` via
    ``pushFilters`` (dialect-aware: double-quoted identifiers +
    ``IS NOT DISTINCT FROM`` for PostgreSQL, backticks + ``<=>`` for
    MySQL; string prefix/contains ops are handed back to Spark rather
    than risking LIKE-escaping differences);
  - the SELECT lists exactly the schema's columns.

One partition per scan (one remote statement, one resultset). The
engine probes the schema once per from-spec (LIMIT 0) and caches it —
data is never cached. ``table`` is a table name or a parenthesized
derived table (``(<query>) AS q``).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from beacon_spark.server.remote_datasource import (
    SQL_DIALECTS,
    _quote_ident,
    filters_to_sql,
)

__all__ = ["SqlDbDataSource", "build_sqldb_reader_sql"]


def build_sqldb_reader_sql(engine: str, table: str, columns: list[str],
                           preds: list[str]) -> str:
    q = SQL_DIALECTS[engine]["quote"]
    cols = ", ".join(_quote_ident((c,), q) for c in columns) or "*"
    sql = f"SELECT {cols} FROM {table}"
    if preds:
        sql += " WHERE " + " AND ".join(preds)
    return sql


class _SqlDbReader(DataSourceReader):
    def __init__(self, schema, options):
        self._engine = options["engine"]
        if self._engine not in ("postgres", "mysql"):
            raise ValueError(f"unknown sqldb engine {self._engine!r}")
        self._table = options["table"]
        self._conn = {
            k: options[k]
            for k in ("host", "port", "user", "password", "database")
            if options.get(k)
        }
        self._columns = [f.name for f in schema.fields]
        self._preds: list[str] = []

    def pushFilters(self, filters):
        self._preds, rest = filters_to_sql(filters, dialect=self._engine)
        yield from rest

    def remote_sql(self) -> str:
        return build_sqldb_reader_sql(
            self._engine, self._table, self._columns, self._preds
        )

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition):
        # executor-side connect + fetch; rows yielded as tuples in
        # schema column order (the clients already decode to python
        # values matching the Spark types)
        if self._engine == "postgres":
            from beacon_spark.sources.pglite import PgClient as Client
        else:
            from beacon_spark.sources.mysqllite import MySqlClient as Client

        kw = dict(self._conn)
        if "port" in kw:
            kw["port"] = int(kw["port"])
        client = Client(**kw)
        try:
            # streamed, not buffered: rows decode one wire packet at a
            # time, so executor memory is O(row) even when the remote
            # table is arbitrarily large
            _cols, rows = client.query_stream(self.remote_sql())
            for row in rows:
                yield tuple(row)
        finally:
            client.close()


class SqlDbDataSource(DataSource):
    """``spark.read.format("beacon_sqldb").schema(s).options(engine=…,
    table=…, host=…, …)`` — see module docstring."""

    @classmethod
    def name(cls):
        return "beacon_sqldb"

    def schema(self):
        raise NotImplementedError(
            "beacon_sqldb requires an explicit schema (the engine probes "
            "it once per from-spec with LIMIT 0)"
        )

    def reader(self, schema):
        return _SqlDbReader(schema, self.options)
