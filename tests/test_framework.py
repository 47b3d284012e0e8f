"""Framework-integration tests: settings-derived backends and the
dump/load command pair (the analog of the reference's Django management
commands, reference: xdump/extra/django/xdump/management/core.py:7-74,
commands/xdump.py, commands/xload.py; exercised there by
tests/django/test_commands.py)."""

import os

import pytest

from xdump_spark.framework import (
    ENGINE_BACKENDS,
    JdbcBackend,
    dump_command,
    get_xdump_backend,
    load_command,
)
from xdump_spark.sources.parquet_db import ParquetDatabase

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def parquet_settings(spark, employees_catalog, tmp_path):
    src = str(tmp_path / "srcdb")
    for name, df in employees_catalog.tables.items():
        df.write.parquet(os.path.join(src, name))
    db = ParquetDatabase(spark, src)
    db.write_fk_config(employees_catalog.foreign_keys)
    dst = str(tmp_path / "dstdb")
    for name, df in employees_catalog.tables.items():
        df.limit(0).write.parquet(os.path.join(dst, name))
    return {
        "DATABASES": {
            "default": {"ENGINE": "xdump_spark.parquet", "NAME": src},
            "target": {"ENGINE": "xdump_spark.parquet", "NAME": dst},
        },
        "XDUMP": {
            "FULL_TABLES": ["groups"],
            "PARTIAL_TABLES": {"employees": "SELECT * FROM employees WHERE id = 2"},
        },
    }


def test_backend_from_engine(spark, parquet_settings):
    db = get_xdump_backend(spark, parquet_settings)
    assert isinstance(db, ParquetDatabase)


def test_backend_precedence_and_errors(spark, parquet_settings):
    # explicit argument beats the ENGINE mapping (importable string, like
    # the reference's --backend flag)
    db = get_xdump_backend(
        spark, parquet_settings, backend="xdump_spark.sources.parquet_db:ParquetDatabase"
    )
    assert isinstance(db, ParquetDatabase)
    # XDUMP['BACKEND'] beats the ENGINE mapping
    s = {
        "DATABASES": parquet_settings["DATABASES"],
        "XDUMP": {**parquet_settings["XDUMP"], "BACKEND": ENGINE_BACKENDS["xdump_spark.parquet"]},
    }
    assert isinstance(get_xdump_backend(spark, s), ParquetDatabase)
    with pytest.raises(ValueError, match="no database configuration"):
        get_xdump_backend(spark, parquet_settings, alias="missing")
    bad = {"DATABASES": {"default": {"ENGINE": "django.db.backends.oracle", "NAME": "x"}}}
    with pytest.raises(ValueError, match="unsupported ENGINE"):
        get_xdump_backend(spark, bad)


def test_dump_load_roundtrip_parquet_profile(spark, parquet_settings, tmp_path):
    """Settings-driven dump from 'default', load into 'target' with
    truncate cleanup — employee 2 pulls its manager chain 2→1, groups full."""
    zip_path = str(tmp_path / "dump.zip")
    counts = dump_command(spark, parquet_settings, zip_path)
    assert counts == {"groups": 2, "employees": 2}

    order = load_command(
        spark, parquet_settings, zip_path, alias="target", cleanup_method="truncate"
    )
    assert order.index("groups") < order.index("employees")
    dst = parquet_settings["DATABASES"]["target"]["NAME"]
    emp = spark.read.parquet(os.path.join(dst, "employees"))
    assert {r.id for r in emp.collect()} == {1, 2}
    assert spark.read.parquet(os.path.join(dst, "groups")).count() == 2


def test_unknown_cleanup_method(spark, parquet_settings, tmp_path):
    zip_path = str(tmp_path / "d.zip")
    dump_command(spark, parquet_settings, zip_path)
    with pytest.raises(ValueError, match="unknown cleanup_method"):
        load_command(spark, parquet_settings, zip_path, alias="target", cleanup_method="drop")


def test_jdbc_profile_dump_and_load(spark, tmp_path):
    """A 'live' alias (embedded Derby) round-trip: settings-derived
    JdbcBackend stages a t0 snapshot for the dump, and the load writes
    FK-toposorted into a second Derby DB."""
    from tests.test_jdbc_live import derby_db  # fixture function, reused directly

    url = derby_db.__wrapped__(spark, tmp_path)
    dst_url = f"jdbc:derby:{tmp_path}/dstdb;create=true"
    settings = {
        "DATABASES": {
            "default": {
                "ENGINE": "xdump_spark.jdbc",
                "NAME": url,
                "DRIVER": DERBY_DRIVER,
                "STAGE_DIR": str(tmp_path / "stage"),
            },
            "target": {"ENGINE": "xdump_spark.jdbc", "NAME": dst_url, "DRIVER": DERBY_DRIVER},
        },
        "XDUMP": {
            "FULL_TABLES": ["groups"],
            "PARTIAL_TABLES": {"employees": "SELECT * FROM employees WHERE id = 2"},
        },
    }
    db = get_xdump_backend(spark, settings)
    assert isinstance(db, JdbcBackend)

    zip_path = str(tmp_path / "dump.zip")
    counts = dump_command(spark, settings, zip_path)
    assert counts == {"groups": 2, "employees": 2}

    order = load_command(spark, settings, zip_path, alias="target")
    assert order.index("groups") < order.index("employees")
    got = spark.read.format("jdbc").options(
        url=dst_url, dbtable="employees", driver=DERBY_DRIVER
    ).load()
    assert {r.id for r in got.collect()} == {1, 2}


def test_jdbc_truncate_missing_table_raises(spark, tmp_path):
    from tests.test_jdbc_live import derby_db

    url = derby_db.__wrapped__(spark, tmp_path)
    settings = {
        "DATABASES": {
            "default": {"ENGINE": "xdump_spark.jdbc", "NAME": url, "DRIVER": DERBY_DRIVER}
        },
        "XDUMP": {"FULL_TABLES": [], "PARTIAL_TABLES": {}},
    }
    db = get_xdump_backend(spark, settings)
    with pytest.raises(RuntimeError, match="truncate failed for table 'ghost'"):
        db.truncate(tables=["ghost"])


def test_jdbc_truncate_reverse_fk_order(spark, tmp_path):
    """JdbcBackend.truncate deletes children before parents so FK
    constraints never fire."""
    from tests.test_jdbc_live import derby_db

    url = derby_db.__wrapped__(spark, tmp_path)
    settings = {
        "DATABASES": {
            "default": {"ENGINE": "xdump_spark.jdbc", "NAME": url, "DRIVER": DERBY_DRIVER}
        },
        "XDUMP": {"FULL_TABLES": [], "PARTIAL_TABLES": {}},
    }
    db = get_xdump_backend(spark, settings)
    db.truncate()
    for t in ("groups", "employees"):
        got = spark.read.format("jdbc").options(
            url=url, dbtable=t, driver=DERBY_DRIVER
        ).load()
        assert got.count() == 0, t


def test_curate_from_config(spark, tmp_path):
    import json

    from xdump_spark.config import curate_from_config, load_curate_config

    out = str(tmp_path / "corpus")
    shards = str(tmp_path / "shards")
    cfg = {
        "input": "/root/testdata/sf0.001/documents.parquet",
        "output": out,
        "span_k": 8,
        "sample_rates": {"en": 1.0},
        "pack_budget": 256,
        "tokenize": True,
        "shards_out": shards,
        "partition_by": ["source"],
    }
    p = str(tmp_path / "curate.json")
    with open(p, "w") as f:
        json.dump(cfg, f)
    res = curate_from_config(spark, p)
    assert res.audit["input"] == 500
    written = spark.read.parquet(out)
    assert written.count() == res.audit["sampled"]  # last dropping stage
    assert written.count() > 0
    assert spark.read.parquet(shards).count() > 0

    # unknown keys are a config error, not silence
    bad = dict(cfg, typo_key=1)
    with open(p, "w") as f:
        json.dump(bad, f)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="typo_key"):
        load_curate_config(p)


def test_curate_from_config_session2_keys(spark, tmp_path):
    """Every session-2 stage key is accepted and takes effect through the
    settings path (regression: the key whitelist silently lagged the
    pipeline surface and rejected valid configs)."""
    import json

    from xdump_spark.config import curate_from_config
    from xdump_spark.operators.classifier import (
        fit_linear_classifier,
        quality_feature_frame,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feats = quality_feature_frame(docs)
    med = feats.approxQuantile("ttr", [0.5], 0.0)[0]
    model = fit_linear_classifier(
        feats.withColumn("label", (F.col("ttr") > med).cast("int"))
    )
    model_path = str(tmp_path / "model.json")
    with open(model_path, "w") as f:
        json.dump(model.to_dict(), f)
    srcs = [r.source for r in docs.select("source").distinct().limit(4).collect()]
    # a SMALL benchmark: strip policy fully strips only its 3 members
    # (benchmark == whole corpus would empty every doc, which the
    # empty-text recheck now correctly drops — leaving no sources for
    # the mixture stage to hit)
    bench_path = str(tmp_path / "bench.parquet")
    docs.limit(3).write.parquet(bench_path)

    cfg = {
        "input": "/root/testdata/sf0.001/documents.parquet",
        "output": str(tmp_path / "corpus"),
        "span_k": 0,
        "min_tokens": 1,
        "blocklist": ["zzzznotpresent"],
        "blocklist_mode": "token",
        "quality_model": model_path,
        "quality_score_min": 0.5,
        "target_mixture": {s: 1.0 / len(srcs) for s in srcs},
        "mixture_col": "source",
        "contamination_policy": "strip",
        "benchmark": bench_path,
    }
    p = str(tmp_path / "curate2.json")
    with open(p, "w") as f:
        json.dump(cfg, f)
    res = curate_from_config(spark, p)
    for stage in ("blocklist_gated", "classifier_gated", "decontaminated",
                  "mixture_rebalanced"):
        assert stage in res.audit, res.audit
    assert res.mixture_rates and set(res.mixture_rates) <= set(srcs)
    # strip policy: only the <=3 fully-covered benchmark members drop
    assert res.audit["decontaminated"] >= res.audit["classifier_gated"] - 3


def test_curate_from_config_dsir_keys(spark, tmp_path):
    """The r5 DSIR selection keys flow through the settings path and the
    stage shows in the audit with the requested size."""
    import json

    from xdump_spark.config import curate_from_config

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tgt_path = str(tmp_path / "target.parquet")
    docs.filter("doc_id % 7 = 0").write.parquet(tgt_path)
    cfg = {
        "input": "/root/testdata/sf0.001/documents.parquet",
        "output": str(tmp_path / "corpus"),
        "span_k": 0,
        "min_tokens": 1,
        "dsir_target": tgt_path,
        "dsir_n": 20,
        "dsir_buckets": 4096,
        "dsir_temperature": 0.5,
        "dsir_seed": 11,
    }
    p = str(tmp_path / "curate_dsir.json")
    with open(p, "w") as f:
        json.dump(cfg, f)
    res = curate_from_config(spark, p)
    assert res.audit.get("dsir_selected") == 20, res.audit


def test_jdbc_load_restarts_sequences_once(spark, tmp_path, monkeypatch):
    """A JDBC load replays the dumped sequence state once: ``write_jdbc``
    already runs ``apply_sequences_jdbc``, so ``JdbcBackend.load_dump``
    must not run every RESTART / setval a second time. A ``recreate``
    cleanup, which a JDBC target has no means for, names ``truncate``."""
    from tests.test_jdbc_live import derby_db
    from xdump_spark.sources import jdbc as J

    url = derby_db.__wrapped__(spark, tmp_path)
    settings = {
        "DATABASES": {
            "default": {"ENGINE": "xdump_spark.jdbc", "NAME": url, "DRIVER": DERBY_DRIVER},
            "target": {
                "ENGINE": "xdump_spark.jdbc",
                "NAME": f"jdbc:derby:{tmp_path}/seqonce;create=true",
                "DRIVER": DERBY_DRIVER,
            },
        },
        "XDUMP": {"FULL_TABLES": ["groups"], "PARTIAL_TABLES": {}},
    }
    zip_path = str(tmp_path / "dump.zip")
    dump_command(spark, settings, zip_path)

    calls = []
    real = J.apply_sequences_jdbc

    def counting(*args, **kwargs):
        calls.append(args[2])
        return real(*args, **kwargs)

    monkeypatch.setattr(J, "apply_sequences_jdbc", counting)
    load_command(spark, settings, zip_path, alias="target")
    assert calls == [{"groups": 2}]

    with pytest.raises(ValueError, match="truncate"):
        load_command(spark, settings, zip_path, alias="target", cleanup_method="recreate")
