"""App-framework integration: derive dump/load configuration from a
framework-style settings object instead of CLI flags.

This is the analog of the reference's Django management layer
(reference: xdump/extra/django/xdump/management/core.py:7-74 — backend
derived from ``settings.DATABASES[alias]['ENGINE']`` with an importable
``XDUMP['BACKEND']`` override, table sets from ``XDUMP['FULL_TABLES']`` /
``XDUMP['PARTIAL_TABLES']`` — and the two commands
commands/xdump.py:5-32 / commands/xload.py:5-29). No framework dependency
here: the settings object is any mapping with the same shape, so an app
can pass its own settings module/dict directly.

    SETTINGS = {
        "DATABASES": {
            "default": {"ENGINE": "xdump_spark.parquet", "NAME": "/path/to/db"},
            "live": {
                "ENGINE": "xdump_spark.jdbc",
                "NAME": "jdbc:derby:/tmp/appdb",      # full JDBC URL
                "USER": "app", "PASSWORD": "...",      # optional
                "DRIVER": "org.apache.derby.jdbc.EmbeddedDriver",  # optional
                "STAGE_DIR": "/tmp/stage",             # optional t0 snapshot dir
            },
        },
        "XDUMP": {
            "FULL_TABLES": ["groups"],
            "PARTIAL_TABLES": {"employees": "SELECT * FROM employees WHERE id=1"},
            # optional, mirrors settings.XDUMP['BACKEND']:
            # "BACKEND": "pkg.module:Class",
        },
    }

    dump_command(spark, SETTINGS, "dump.zip")            # alias="default"
    load_command(spark, SETTINGS, "dump.zip", cleanup_method="truncate")
"""

from __future__ import annotations

import tempfile
from typing import Any, Mapping

from pyspark.sql import SparkSession

from xdump_spark.catalog import Catalog

# ENGINE string → backend import string (the analog of the reference's
# django-engine → xdump-backend mapping, core.py:46-53). Extensible the
# same way: XDUMP['BACKEND'] or the backend= argument override this.
ENGINE_BACKENDS: dict[str, str] = {
    "xdump_spark.parquet": "xdump_spark.sources.parquet_db:ParquetDatabase",
    "xdump_spark.jdbc": "xdump_spark.framework:JdbcBackend",
}


class JdbcBackend:
    """Live-database backend speaking the same protocol as ParquetDatabase
    (catalog() + truncate() + the load surface), so framework commands and
    user overrides treat file and JDBC targets uniformly.

    Note on live PostgreSQL targets: the reference pins an empty
    ``search_path`` around its sessions (xdump/postgresql.py:179-188,
    the CVE-2018-1058 schema-shadowing hardening). Spark's JDBC writer
    always schema-qualifies through ``dbtable``; when pointing this
    backend at a shared PG database, pass an explicit schema-qualified
    table prefix or a URL with ``options=-csearch_path%3D`` the same way.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        user: str | None = None,
        password: str | None = None,
        driver: str | None = None,
        stage_dir: str | None = None,
        tables: list[str] | None = None,
    ):
        from xdump_spark.sources.jdbc import jdbc_options

        self.spark = spark
        self.url = url
        self.options = jdbc_options(url, user=user, password=password, driver=driver)
        self.properties = {k: v for k, v in self.options.items() if k != "url"}
        self.stage_dir = stage_dir
        self.tables = tables

    def catalog(self) -> Catalog:
        from xdump_spark.sources.jdbc import jdbc_catalog

        stage = self.stage_dir or tempfile.mkdtemp(prefix="xdump_stage_")
        return jdbc_catalog(
            self.spark,
            self.url,
            user=self.properties.get("user"),
            password=self.properties.get("password"),
            driver=self.properties.get("driver"),
            tables=self.tables,
            stage_dir=stage,
        )

    def _connection(self):
        jvm = self.spark._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        return jvm.java.sql.DriverManager.getConnection(self.url, props)

    def truncate(self, tables: list[str] | None = None) -> None:
        """DELETE all rows, children before parents (FK-safe). The
        reference truncates with CASCADE (xdump/postgresql.py:190-193);
        portable JDBC has no cascade, so reverse-toposort does the job."""
        from xdump_spark.engine import toposort_tables
        from xdump_spark.sources.jdbc import (
            introspect_foreign_keys_metadata,
            list_tables,
        )

        names = tables or [
            t.lower() for t in list_tables(self.spark, self.url, self.properties)
        ]
        fks = introspect_foreign_keys_metadata(self.spark, self.url, self.properties)
        order = list(reversed(toposort_tables(names, fks)))
        conn = self._connection()
        try:
            st = conn.createStatement()
            for t in order:
                # Try the driver's case folds the same way apply_sequences_jdbc
                # does — but a table that fails under EVERY fold must raise:
                # a silently-skipped truncate turns the subsequent load into
                # row duplication.
                last_exc: Exception | None = None
                for cand in (t, t.upper(), t.lower()):
                    try:
                        st.execute(f'DELETE FROM "{cand}"')
                        last_exc = None
                        break
                    except Exception as exc:
                        last_exc = exc
                if last_exc is not None:
                    raise RuntimeError(
                        f"truncate failed for table {t!r} under every identifier "
                        f"case fold"
                    ) from last_exc
            st.close()
        finally:
            conn.close()

    def load_dump(self, loaded) -> list[str]:
        """FK-toposorted JDBC ingest; ``write_jdbc`` also restarts the
        target's serial counters (``apply_sequences_jdbc``)."""
        return loaded.write_jdbc(self.url, self.properties, mode="append")


def _resolve(spec: str):
    from xdump_spark.cli import resolve_backend

    return resolve_backend(spec)


def get_xdump_backend(
    spark: SparkSession,
    settings: Mapping[str, Any],
    alias: str = "default",
    backend: str | type | None = None,
):
    """Instantiate the backend for ``settings.DATABASES[alias]`` (the
    analog of core.py:39-58): explicit argument > XDUMP['BACKEND'] >
    ENGINE mapping. A string backend is resolved as 'pkg.module:Class'."""
    try:
        cfg = settings["DATABASES"][alias]
    except KeyError:
        raise ValueError(f"no database configuration for alias {alias!r}")
    if backend is None:
        backend = settings.get("XDUMP", {}).get("BACKEND")
    if backend is None:
        engine = cfg.get("ENGINE")
        if engine not in ENGINE_BACKENDS:
            raise ValueError(
                f"unsupported ENGINE {engine!r} for alias {alias!r}; "
                f"known: {sorted(ENGINE_BACKENDS)} (or set XDUMP['BACKEND'])"
            )
        backend = ENGINE_BACKENDS[engine]
    cls = _resolve(backend) if isinstance(backend, str) else backend
    if cls is JdbcBackend:
        return JdbcBackend(
            spark,
            cfg["NAME"],
            user=cfg.get("USER"),
            password=cfg.get("PASSWORD"),
            driver=cfg.get("DRIVER"),
            stage_dir=cfg.get("STAGE_DIR"),
        )
    # ParquetDatabase protocol: (spark, path)
    return cls(spark, cfg["NAME"])


def get_dump_kwargs(settings: Mapping[str, Any]) -> dict[str, Any]:
    """Table sets from settings (core.py:63-67)."""
    xd = settings.get("XDUMP", {})
    return {
        "full_tables": list(xd.get("FULL_TABLES", [])),
        "partial_tables": dict(xd.get("PARTIAL_TABLES", {})),
    }


def run_dump(
    spark: SparkSession, db, filename: str, since: str | None = None, **kwargs
) -> dict[str, int]:
    """Dump ``db.catalog()`` to ``filename``: the one dump path behind
    :func:`dump_command`, ``config.dump_from_config`` and the CLI's
    ``dump``. ``since`` switches to an incremental dump against a prior
    archive (``SparkDumpEngine.dump_incremental``); ``kwargs`` are the
    table sets and archive flags of ``SparkDumpEngine.dump``. Returns
    per-table row counts."""
    from xdump_spark.engine import SparkDumpEngine

    engine = SparkDumpEngine(spark, db.catalog())
    if since:
        return engine.dump_incremental(filename, since=since, **kwargs)
    return engine.dump(filename, **kwargs)


def run_load(
    spark: SparkSession, db, filename: str, cleanup_method: str | None = None
) -> list[str]:
    """Load ``filename`` into ``db`` after an optional ``truncate`` or
    ``recreate`` cleanup (reference: xdump/cli/load.py:25-37): the one
    load path behind :func:`load_command` and the CLI's ``load``. A
    backend with ``load_dump`` (:class:`JdbcBackend`) takes the parsed
    dump whole; any other writes the frames in FK order, its FK config
    and, when it keeps them, the sequence state. Returns the load order."""
    from xdump_spark.engine import SparkDumpEngine

    if cleanup_method not in (None, "truncate", "recreate"):
        raise ValueError(f"unknown cleanup_method {cleanup_method!r}")
    if cleanup_method and not hasattr(db, cleanup_method):
        supported = [m for m in ("truncate", "recreate") if hasattr(db, m)]
        raise ValueError(
            f"{type(db).__name__} has no {cleanup_method!r} cleanup; "
            f"cleanup_method must be one of {supported}"
        )
    loaded = SparkDumpEngine(spark, Catalog({})).load(filename)
    if cleanup_method:
        getattr(db, cleanup_method)()
    if hasattr(db, "load_dump"):
        return db.load_dump(loaded)
    order = loaded.load_order()
    db.load_tables(loaded.frames, order, mode="overwrite")
    db.write_fk_config(loaded.foreign_keys)
    if loaded.sequences and hasattr(db, "write_sequences"):
        db.write_sequences({t: int(v) for t, v in loaded.sequences.items()})
    return order


def dump_command(
    spark: SparkSession,
    settings: Mapping[str, Any],
    filename: str,
    alias: str = "default",
    backend: str | type | None = None,
    dump_data: bool = True,
    dump_schema: bool = True,
    compression: str = "deflated",
    since: str | None = None,
) -> dict[str, int]:
    """The ``xdump`` management command (commands/xdump.py:5-32): dump the
    configured table sets from the aliased database to ``filename``.
    ``since`` switches to an incremental dump against a prior archive
    (engine.dump_incremental). Returns per-table row counts."""
    return run_dump(
        spark,
        get_xdump_backend(spark, settings, alias, backend),
        filename,
        since=since,
        dump_schema=dump_schema,
        dump_data=dump_data,
        compression=compression,
        **get_dump_kwargs(settings),
    )


def load_command(
    spark: SparkSession,
    settings: Mapping[str, Any],
    filename: str,
    alias: str = "default",
    backend: str | type | None = None,
    cleanup_method: str | None = None,
) -> list[str]:
    """The ``xload`` management command (commands/xload.py:5-29): optional
    truncate/recreate cleanup, then FK-ordered load of ``filename`` into
    the aliased database. Returns the load order."""
    return run_load(
        spark,
        get_xdump_backend(spark, settings, alias, backend),
        filename,
        cleanup_method=cleanup_method,
    )
