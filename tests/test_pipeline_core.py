"""Reference-parity core: ETL casts, DQ rules, drift math, healing formulas,
and the golden 4-stage self-healing scenario (SURVEY.md §5).

Fixture data reproduces the *shape* of the reference's demo (a clean v1 and
a broken v2 whose ``age`` column coerces to 3/5 nulls) without copying its
files.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
import yaml
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from self_healing_data_pipeline_agent_spark.contract import Contract, load_contract
from self_healing_data_pipeline_agent_spark.drift import (
    build_profile,
    compare_profiles,
    detect_and_update_drift,
)
from self_healing_data_pipeline_agent_spark.errors import DataQualityError
from self_healing_data_pipeline_agent_spark.etl import (
    project_and_cast,
    run_etl,
    write_warehouse,
)
from self_healing_data_pipeline_agent_spark.healing import heal_contract
from self_healing_data_pipeline_agent_spark.incidents import load_incidents
from self_healing_data_pipeline_agent_spark.quality import (
    enforce_data_quality,
    run_data_quality,
)
from self_healing_data_pipeline_agent_spark.runner import run_demo, run_single_pipeline

CLEAN_CSV = """customer_id,name,age,country
1,Asha,25,India
2,Boris,31,USA
3,Carmen,29,UK
4,Devi,42,India
"""

# age: empty for rows 2 & 5, non-numeric for row 3 -> 3/5 nulls after coercion
BROKEN_CSV = """customer_id,name,age,country
1,Asha,25,India
2,Boris,,USA
3,Carmen,twentynine,UK
4,Devi,42,India
5,Elio,,Canada
"""

CONTRACT = {
    "warehouse_path": "data/warehouse",
    "table_name": "customers",
    "source_path": "data/raw/customers_v1.csv",
    "columns": {
        "customer_id": {"type": "int", "required": True},
        "name": {"type": "string", "required": True},
        "age": {"type": "int", "required": False, "max_null_fraction": 0.2},
        "country": {"type": "string", "required": False},
    },
    "quality": {"row_count_min": 1},
    "drift": {
        "profile_path": "data/metadata/reference_profile.json",
        "mean_relative_tolerance": 0.5,
    },
}


def assert_stats_equal_agg(stats, df, contract):
    """The statistics a warehouse write observed equal one direct
    aggregate over the same frame: the row count exactly, null fractions,
    means and stddevs to 1e-12 relative."""
    present = [c for c in contract.columns if c in df.columns]
    numeric = [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    row = df.agg(
        F.count(F.lit(1)),
        *[F.avg(F.col(c).isNull().cast("int")) for c in present],
        *[F.avg(c) for c in numeric],
        *[F.stddev_samp(c) for c in numeric],
    ).first()
    values = iter(row[1:])
    expected = {
        "null_fractions": {c: next(values) for c in present},
        "means": {c: next(values) for c in numeric},
        "stds": {c: next(values) for c in numeric},
    }
    assert stats["row_count"] == row[0]
    for key, direct in expected.items():
        assert stats[key].keys() == direct.keys()
        for c, v in direct.items():
            assert float(stats[key][c]) == pytest.approx(float(v), rel=1e-12), (key, c)


@pytest.fixture
def demo_dir(tmp_path: Path) -> Path:
    raw = tmp_path / "data" / "raw"
    raw.mkdir(parents=True)
    (raw / "customers_v1.csv").write_text(CLEAN_CSV)
    (raw / "customers_v2_broken.csv").write_text(BROKEN_CSV)
    cfg_dir = tmp_path / "config"
    cfg_dir.mkdir()
    with open(cfg_dir / "pipeline_config.yml", "w") as f:
        yaml.safe_dump(CONTRACT, f, sort_keys=False)
    return tmp_path


def test_coercing_cast_semantics(spark):
    """try_cast: unparseable int -> NULL (pandas to_numeric coerce parity)."""
    df = spark.createDataFrame(
        [("1", "x"), ("twentynine", "y"), (None, "z"), (" 7", "w")],
        ["age", "name"],
    )
    contract = Contract(
        raw={"columns": {"age": {"type": "int"}, "name": {"type": "string"}}}
    )
    rows = {r["name"]: r["age"] for r in project_and_cast(df, contract).collect()}
    assert rows == {"x": 1, "y": None, "z": None, "w": 7}


def test_missing_column_soft_projection(spark, tmp_path):
    """Missing declared column drops from projection (no error) and surfaces
    as a missing_column DQ failure."""
    df = spark.createDataFrame([("1",)], ["customer_id"])
    contract = Contract(
        raw={
            "columns": {
                "customer_id": {"type": "int"},
                "age": {"type": "int", "required": True},
            }
        }
    )
    out = project_and_cast(df, contract)
    assert out.columns == ["customer_id"]
    report = run_data_quality(write_warehouse(out, contract, tmp_path), contract)
    checks = {c["check"] for c in report["failed_checks"]}
    assert "missing_column" in checks


def test_dq_rules(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, 30), (3, None), (4, 40), (5, None)],
        "customer_id int, age int",
    )
    contract = Contract(
        raw={
            "columns": {
                "customer_id": {"type": "int", "required": True},
                "age": {"type": "int", "max_null_fraction": 0.2},
            },
            "quality": {"row_count_min": 10},
        }
    )
    stats = write_warehouse(df, contract, tmp_path)
    assert_stats_equal_agg(stats, df, contract)
    report = run_data_quality(stats, contract)
    by_check = {c["check"]: c for c in report["failed_checks"]}
    assert by_check["row_count"]["observed"] == 5
    assert by_check["max_null_fraction"]["observed"] == pytest.approx(0.6)
    assert report["null_fractions"]["age"] == pytest.approx(0.6)
    assert "required_nulls" not in by_check  # customer_id has no nulls
    with pytest.raises(DataQualityError) as exc_info:
        enforce_data_quality(stats, contract)
    assert exc_info.value.report["failed_checks"]


def test_profile_stddev_guards(spark, tmp_path):
    """stddev of n==1 -> 0.0 (not NULL); all-null column skipped."""
    df = spark.createDataFrame(
        [(1, None)], "a int, b int"
    )
    profile = build_profile(write_warehouse(df, Contract(), tmp_path))
    assert profile["columns"]["a"] == {"mean": 1.0, "std": 0.0}
    assert "b" not in profile["columns"]


def test_profile_matches_reference_golden(spark, tmp_path):
    """The reference's committed profile for its v1 data: customer_id
    mean 2.5 / std 1.2909944, age mean 31.75 / std 7.2743843 (ddof=1)."""
    df = spark.createDataFrame(
        [(1, 25), (2, 31), (3, 29), (4, 42)], "customer_id bigint, age bigint"
    )
    p = build_profile(write_warehouse(df, Contract(), tmp_path))["columns"]
    assert p["customer_id"]["mean"] == pytest.approx(2.5)
    assert p["customer_id"]["std"] == pytest.approx(1.2909944487358056)
    assert p["age"]["mean"] == pytest.approx(31.75)
    assert p["age"]["std"] == pytest.approx(7.274384280931732)


def test_drift_compare_guards():
    base = {"columns": {"a": {"mean": 10.0, "std": 1.0},
                        "z": {"mean": 0.0, "std": 1.0}}}
    cur = {"columns": {"a": {"mean": 16.0, "std": 1.0},
                       "z": {"mean": 100.0, "std": 1.0},
                       "new": {"mean": 5.0, "std": 1.0}}}
    report = compare_profiles(base, cur, tolerance=0.5)
    assert report["drifted_columns"] == ["a"]  # 0.6 > 0.5
    assert "z" not in report["details"]  # base mean == 0 skipped
    assert "new" not in report["details"]  # new-in-current skipped
    ok = compare_profiles(base, {"columns": {"a": {"mean": 14.0, "std": 1}}}, 0.5)
    assert ok["drifted_columns"] == []  # 0.4 <= 0.5


def test_healing_formulas():
    """H2 exact formula: min(0.8, max(prev+0.2, observed+0.05)) -> 0.65."""
    contract = Contract(raw={
        "columns": {"age": {"type": "int", "max_null_fraction": 0.2}},
        "quality": {"row_count_min": 10},
    })
    report = {
        "failed_checks": [
            {"check": "max_null_fraction", "column": "age",
             "observed": 0.6, "threshold": 0.2},
            {"check": "row_count", "column": None, "observed": 5, "threshold": 10},
            {"check": "missing_column", "column": "country"},
        ]
    }
    contract.raw["columns"]["country"] = {"type": "string", "required": True}
    healed, changes = heal_contract(contract, report)
    assert healed.raw["columns"]["age"]["max_null_fraction"] == pytest.approx(0.65)
    assert healed.raw["quality"]["row_count_min"] == 5
    assert healed.raw["columns"]["country"]["required"] is False
    actions = {c["action"] for c in changes}
    assert actions == {"raise_null_tolerance", "lower_row_count_min",
                       "soften_required"}
    # monotone: healing again from the healed state only loosens further
    report2 = {"failed_checks": [{"check": "max_null_fraction", "column": "age",
                                  "observed": 0.9, "threshold": 0.65}]}
    healed2, _ = heal_contract(healed, report2)
    assert healed2.raw["columns"]["age"]["max_null_fraction"] == 0.8  # capped


def test_golden_four_stage_scenario(spark, demo_dir):
    """End-to-end: baseline success -> broken fails DQ (age nf=0.6>0.2) ->
    healing bumps tolerance to exactly 0.65 -> re-run healed_success."""
    contract_path = demo_dir / "config" / "pipeline_config.yml"
    outcomes = run_demo(
        spark, demo_dir, contract_path,
        clean_source="data/raw/customers_v1.csv",
        broken_source="data/raw/customers_v2_broken.csv",
        streaming_monitor=True,
    )
    assert [(o["stage"], o["status"]) for o in outcomes] == [
        ("baseline", "success"),
        ("drifted", "failed"),
        ("healing", "healing_actions_applied"),
        ("post_healing", "healed_success"),
        ("streaming_monitor", "success"),
    ]
    # the streaming monitor's running counters agree with the batch
    # dashboard over the same incident log (one incident per stage)
    assert outcomes[4]["incident_counts"] == {
        "success": 1, "failed": 1,
        "healing_actions_applied": 1, "healed_success": 1,
    }
    # broken-stage failure carries the observed 0.6 null fraction
    drifted = outcomes[1]
    assert drifted["issues"]["null_fractions"]["age"] == pytest.approx(0.6)
    # healed contract has the exact H2 value
    healed = load_contract(contract_path)
    assert healed.raw["columns"]["age"]["max_null_fraction"] == pytest.approx(0.65)
    # drift profile was bootstrapped from v1 and matches the golden values
    with open(demo_dir / "data/metadata/reference_profile.json") as f:
        profile = json.load(f)
    assert profile["columns"]["age"]["mean"] == pytest.approx(31.75)
    assert profile["columns"]["age"]["std"] == pytest.approx(7.274384280931732)
    # warehouse-write-before-DQ ordering: broken data IS in the warehouse
    # after the failed stage... but stage 4 overwrote it; check incidents log
    incidents = load_incidents(spark, demo_dir)
    statuses = {r["status"] for r in incidents.collect()}
    assert {"success", "failed", "healing_actions_applied",
            "healed_success"} <= statuses


def test_warehouse_written_before_dq_gate(spark, tmp_path):
    """Observable ordering parity: a run that fails DQ still wrote the
    warehouse (reference writes the sink before the gate)."""
    raw = tmp_path / "data" / "raw"
    raw.mkdir(parents=True)
    (raw / "bad.csv").write_text("customer_id,age\n1,\n2,\n")
    contract = Contract(raw={
        "warehouse_path": "data/warehouse",
        "table_name": "customers",
        "source_path": "data/raw/bad.csv",
        "columns": {"customer_id": {"type": "int"},
                    "age": {"type": "int", "max_null_fraction": 0.1}},
        "quality": {"row_count_min": 1},
    })
    stats = run_etl(spark, contract, tmp_path)
    with pytest.raises(DataQualityError):
        enforce_data_quality(stats, contract)
    out = spark.read.parquet(str(tmp_path / "data/warehouse/customers"))
    assert out.count() == 2


# Malformed sources, each run through one pipeline run against the demo
# contract without its age tolerance (so drift runs whenever DQ passes):
# (CSV text or None for an absent path, failed checks, row count, null
# fractions, warehouse columns, profiled columns or None if no profile).
NULLS0 = {"customer_id": 0.0, "name": 0.0, "age": 0.0, "country": 0.0}
DECLARED = ["customer_id", "name", "age", "country"]
MALFORMED = {
    "header_only": (
        "customer_id,name,age,country\n",
        {"row_count"}, 0, NULLS0, DECLARED, None,
    ),
    "bom_and_spaced_headers": (
        "\ufeffcustomer_id , name,age ,  country\n1,Asha,25,India\n2,Boris,31,USA\n",
        set(), 2, NULLS0, DECLARED, ["age", "customer_id"],
    ),
    "missing_and_extra_columns": (
        "customer_id,name,age,email\n1,Asha,25,a@example.com\n",
        {"missing_column"}, 1,
        {"customer_id": 0.0, "name": 0.0, "age": 0.0},
        ["customer_id", "name", "age"], None,
    ),
    "all_null_numeric": (
        "customer_id,name,age,country\n1,Asha,,India\n2,Boris,,USA\n",
        set(), 2, {**NULLS0, "age": 1.0}, DECLARED, ["customer_id"],
    ),
    "missing_source_path": (None, None, None, None, None, None),
}


@pytest.mark.parametrize(
    "source, failed, rows, null_fractions, warehouse, profiled",
    list(MALFORMED.values()), ids=list(MALFORMED),
)
def test_malformed_input_outcomes(
    spark, demo_dir, source, failed, rows, null_fractions, warehouse, profiled
):
    """Each malformed source has one defined outcome: a DQ failure or a
    pass with the stated statistics, or a failed baseline for a path that
    does not exist."""
    contract_path = demo_dir / "config" / "pipeline_config.yml"
    if source is None:
        outcomes = run_demo(
            spark, demo_dir, contract_path,
            clean_source="data/raw/absent.csv", broken_source="data/raw/absent.csv",
        )
        assert [(o["stage"], o["status"], o["error_type"]) for o in outcomes] == [
            ("baseline", "failed", "AnalysisException")
        ]
        return
    (demo_dir / "data/raw/malformed.csv").write_text(source, encoding="utf-8")
    contract = {**CONTRACT, "source_path": "data/raw/malformed.csv"}
    contract["columns"] = {**CONTRACT["columns"], "age": {"type": "int"}}
    with open(contract_path, "w") as f:
        yaml.safe_dump(contract, f, sort_keys=False)
    try:
        report = run_single_pipeline(spark, contract_path, demo_dir)["dq_report"]
    except DataQualityError as err:
        report = err.report
    assert {c["check"] for c in report["failed_checks"]} == failed
    assert report["row_count"] == rows
    assert report["null_fractions"] == null_fractions
    written = spark.read.parquet(str(demo_dir / "data/warehouse/customers"))
    assert written.columns == warehouse
    assert written.count() == rows
    profile_path = demo_dir / "data/metadata/reference_profile.json"
    if profiled is None:
        assert not profile_path.exists()
    else:
        assert sorted(json.loads(profile_path.read_text())["columns"]) == profiled


def test_cluster_conf_sizing():
    """100 TB sizing: partition count scales with data, floors at
    2x total cores; partition bytes bound task working sets."""
    from self_healing_data_pipeline_agent_spark.session import cluster_conf

    conf = cluster_conf(input_tb=100.0)
    parts = int(conf["spark.sql.shuffle.partitions"])
    assert parts == 100 * (1 << 40) // (256 << 20)  # 409600 partitions
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 256 << 20
    # tiny input floors at 2 partitions per core
    small = cluster_conf(input_tb=0.001, executors=10, cores_per_executor=4)
    assert int(small["spark.sql.shuffle.partitions"]) == 80


def test_codegen_cache_holds_working_set(spark):
    """A warm pass over more distinct generated classes than Spark's
    default cache (100) compiles nothing: the LRU holds the whole set.
    Each projection inlines its own literals, so it compiles its own
    classes; at the default cap the second pass recompiled all 240."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def run_pass() -> None:
        for i in range(1000, 1120):
            spark.range(4).selectExpr(f"id * {i} + {i} AS v").write.format(
                "noop"
            ).mode("overwrite").save()

    before = compiles()
    run_pass()
    first = compiles() - before
    assert first > 100, first
    before = compiles()
    run_pass()
    assert compiles() - before == 0


def test_bucketed_warehouse_join_avoids_shuffle(spark, tmp_path):
    """A contract with bucket_by writes a hash-bucketed table; joins on
    the bucket key then run with ZERO shuffle exchanges — the co-location
    property bucketing exists for.  The write observes its statistics."""
    from self_healing_data_pipeline_agent_spark.plans import count_exchanges

    df = spark.range(1000).select(
        F.col("id").alias("customer_id"),
        (F.col("id") % 7).alias("segment"),
    )
    contract = Contract(
        raw={
            "table_name": "bucketed_customers_test",
            "warehouse_path": "wh",
            "columns": {"customer_id": {"type": "int"}, "segment": {"type": "int"}},
            "bucket_by": {"column": "customer_id", "buckets": 4},
        }
    )
    assert_stats_equal_agg(write_warehouse(df, contract, tmp_path), df, contract)
    t = spark.table("bucketed_customers_test")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = t.alias("a").join(
            t.alias("b"),
            F.col("a.customer_id") == F.col("b.customer_id"),
        )
        assert count_exchanges(joined) == 0
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bucketed_customers_test")


def test_profile_history_roundtrip_and_drift(spark, tmp_path):
    """Profiles append to a run-keyed table; drift between runs is a join
    with the base_mean==0 guard, matching the scalar compare_profiles."""
    from self_healing_data_pipeline_agent_spark.drift import (
        append_profile_history,
        compare_profiles,
        drift_between_runs,
    )

    p1 = {"columns": {"age": {"mean": 30.0, "std": 5.0},
                      "zero": {"mean": 0.0, "std": 1.0}}}
    p2 = {"columns": {"age": {"mean": 50.0, "std": 5.0},
                      "zero": {"mean": 9.0, "std": 1.0}}}
    append_profile_history(spark, p1, "run-1", tmp_path)
    append_profile_history(spark, p2, "run-2", tmp_path)
    out = {r["column"]: r for r in
           drift_between_runs(spark, tmp_path, "run-1", "run-2", 0.5).collect()}
    assert "zero" not in out  # base_mean == 0 guard
    assert out["age"]["drifted"] is True
    assert abs(out["age"]["relative_change"] - (20.0 / 30.0)) < 1e-12
    # scalar reference implementation agrees
    scalar = compare_profiles(p1, p2, 0.5)
    assert scalar["drifted_columns"] == ["age"]


def test_bench_headline_subset_of_registry():
    """Every bench headline query must exist in the driver registry with
    an oracle (the driver benches what the correctness gate validates)."""
    from bench import HEADLINE
    from self_healing_data_pipeline_agent_spark.registry import (
        all_oracles,
        all_queries,
    )

    qs, oracles = all_queries(), all_oracles()
    missing = [n for n in HEADLINE if n not in qs]
    assert not missing, f"headline queries not in registry: {missing}"
    no_oracle = [n for n in HEADLINE if n not in oracles]
    assert not no_oracle, f"headline queries without oracle: {no_oracle}"


def test_streaming_incident_metrics_match_batch(spark, tmp_path):
    """The streaming incident counters must agree with the batch
    dashboard metrics over the same incident log."""
    from self_healing_data_pipeline_agent_spark.dashboard import status_metrics
    from self_healing_data_pipeline_agent_spark.incidents import (
        load_incidents,
        log_incident,
    )
    from self_healing_data_pipeline_agent_spark.streaming.events import (
        streaming_incident_metrics,
    )

    for i, status in enumerate(
        ["success", "failed", "healed_success", "success"]
    ):
        log_incident(
            spark, tmp_path, run_id=f"r{i}", pipeline_name="p",
            description="", stage="s", status=status,
        )
    stream_counts = {
        r["status"]: r["n"]
        for r in streaming_incident_metrics(spark, tmp_path).collect()
    }
    assert stream_counts == {"success": 2, "failed": 1, "healed_success": 1}
    batch = status_metrics(load_incidents(spark, tmp_path))
    assert batch["total"] == 4
    assert batch["successes"] == stream_counts["success"] + stream_counts["healed_success"]


def test_local_frame_is_a_local_relation(spark):
    """Driver-built rows come back exactly, under the exact schema
    (nullability included), from a JVM LocalRelation: no Python RDD."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from self_healing_data_pipeline_agent_spark.sources.tables import local_frame

    schema = StructType([
        StructField("s", StringType(), True),
        StructField("n", LongType(), False),
        StructField("x", DoubleType(), True),
    ])
    rows = [("a", 1, 0.5), (None, -(2**62), None), ("", 2**63 - 1, -1e300)]
    for data in (rows, []):
        df = local_frame(spark, data, schema)
        assert df.schema == schema
        assert StructType.fromJson(json.loads(df._jdf.schema().json())) == schema
        assert [tuple(r) for r in df.collect()] == data
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_log_incident_record_and_files(spark, tmp_path):
    """One record per call, one parquet file per call; NULL error fields
    read back as "", the dict payloads as their JSON strings; a log that
    also holds a file from the former pickled-RDD writer reads through
    load_incidents under the unchanged INCIDENT_SCHEMA."""
    import pyarrow.parquet as pq

    from self_healing_data_pipeline_agent_spark.incidents import (
        INCIDENT_SCHEMA,
        incidents_path,
        log_incident,
    )

    path = Path(incidents_path(tmp_path))
    before = ("r0", "p", "old", "baseline", "success", "", "", "{}", "{}")
    spark.createDataFrame([before], schema=INCIDENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(path))
    issues = {"age": {"null_fraction": 0.6, "limit": 0.2}, "rows": [2, 3, 5]}
    actions = {"age": {"max_null_fraction": 0.65}}
    calls = [
        dict(run_id="r1", stage="drifted", status="failed",
             error_type=None, error_message=None,
             issues=issues, healing_actions=actions),
        dict(run_id="r2", stage="post_healing", status="healed_success",
             error_type="DataQualityError", error_message="age nulls"),
    ]
    for n_files, kw in enumerate(calls, start=2):
        log_incident(spark, tmp_path, pipeline_name="p", description="d", **kw)
        assert len(list(path.glob("*.parquet"))) == n_files

    files = sorted(path.glob("*.parquet"))
    assert len({pq.read_schema(f).remove_metadata() for f in files}) == 1
    df = load_incidents(spark, tmp_path)
    assert df.schema == INCIDENT_SCHEMA
    got = {r["run_id"]: r.asDict() for r in df.collect()}
    assert got["r0"] == dict(zip(INCIDENT_SCHEMA.names, before))
    assert (got["r1"]["error_type"], got["r1"]["error_message"]) == ("", "")
    assert got["r1"]["issues_json"] == json.dumps(issues)
    assert got["r1"]["healing_actions_json"] == json.dumps(actions)
    assert (got["r2"]["error_type"], got["r2"]["error_message"]) == (
        "DataQualityError", "age nulls",
    )
    assert (got["r2"]["issues_json"], got["r2"]["healing_actions_json"]) == ("{}", "{}")


def test_compaction_merges_small_files(spark, tmp_path):
    """Small-file compaction: 40 tiny files -> size-targeted rewrite,
    same rows; ordered variant keeps disjoint per-file key ranges."""
    from pyspark.sql import functions as F

    from self_healing_data_pipeline_agent_spark.maintenance import (
        compact_parquet_table,
        table_file_stats,
    )

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    df = spark.range(0, 4000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(src)
    assert table_file_stats(spark, src)["n_files"] == 40

    stats = compact_parquet_table(spark, src, dst, target_file_bytes=10**9)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1
    out = spark.read.parquet(dst)
    assert out.count() == 4000
    assert out.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]

    # ordered compaction: per-file id ranges must be disjoint (row-group
    # skipping depends on this)
    dst2 = str(tmp_path / "ordered")
    compact_parquet_table(
        spark, src, dst2, target_file_bytes=30_000, order_by="id"
    )
    ranges = (
        spark.read.parquet(dst2)
        .groupBy(F.col("_metadata.file_path"))
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev["hi"] < cur["lo"]


def test_dashboard_html_render(spark, tmp_path):
    """app.py static fallback: renders all five query surfaces into one
    self-contained HTML file from the incident log."""
    import app as app_mod
    from self_healing_data_pipeline_agent_spark.incidents import log_incident

    log_incident(
        spark, tmp_path, run_id="r1", pipeline_name="p", description="d",
        stage="baseline", status="success",
    )
    log_incident(
        spark, tmp_path, run_id="r2", pipeline_name="p", description="d",
        stage="drifted", status="failed", error_type="DataQualityError",
        error_message="boom", issues={"age": "nulls"},
        healing_actions={"age": "raise tolerance"},
    )
    out = tmp_path / "dash.html"
    assert app_mod.render_html(tmp_path, out)
    html_text = out.read_text()
    for needle in ("Total Runs", "r1", "r2", "DataQualityError", "raise tolerance"):
        assert needle in html_text
    # empty workspace -> no file, no crash
    empty = tmp_path / "empty"
    empty.mkdir()
    assert not app_mod.render_html(empty, empty / "x.html")


def test_get_logger_configured_once():
    """Reference parity (src/logger.py): INFO level, one handler, second
    call returns the same configured logger without stacking handlers."""
    from self_healing_data_pipeline_agent_spark.logger import get_logger

    lg = get_logger("graft-test-logger")
    assert lg.level == 30 - 10  # INFO
    assert len(lg.handlers) == 1
    assert get_logger("graft-test-logger") is lg
    assert len(lg.handlers) == 1
    rec = lg.makeRecord("graft-test-logger", 20, "f", 1, "hello %s", ("x",), None)
    assert "hello x" in lg.handlers[0].format(rec)


def test_partitioned_warehouse_prunes_directories(spark, tmp_path):
    """A contract with partition_by writes Hive-style directories; a read
    with a filter on the partition column prunes to that directory
    (PartitionFilters in the scan, not a data filter).  The write observes
    its statistics."""
    from self_healing_data_pipeline_agent_spark.plans import formatted_plan

    df = spark.range(300).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).alias("day_bucket"),
        F.when(F.col("id") % 4 != 0, F.col("id") * 2).alias("value"),
    )
    contract = Contract(
        raw={
            "table_name": "part_events_test",
            "warehouse_path": "wh",
            "columns": {"event_id": {"type": "int"}, "value": {"type": "int"}},
            "partition_by": ["day_bucket"],
        }
    )
    assert_stats_equal_agg(write_warehouse(df, contract, tmp_path), df, contract)
    out = str(tmp_path / "wh/part_events_test")
    dirs = sorted(p.name for p in (tmp_path / "wh/part_events_test").iterdir()
                  if p.is_dir())
    assert dirs == ["day_bucket=0", "day_bucket=1", "day_bucket=2"]

    read = spark.read.parquet(out).filter(F.col("day_bucket") == 1)
    plan = formatted_plan(read)
    assert "PartitionFilters" in plan
    assert "day_bucket" in plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert read.count() == 100


def test_clustered_warehouse_files_have_narrow_spans(spark, tmp_path):
    """cluster_by range-partitions + sorts files so each parquet file's
    footer min/max covers a narrow, non-overlapping span — the zone-map
    layout that lets scans skip files on a range filter.  The write
    observes its statistics once per row: below the range repartition, its
    sampling job would count every row a second time."""
    import pyarrow.parquet as pq

    df = spark.range(10_000).select(
        F.col("id").alias("order_id"),
        (F.col("id") * 17 % 10_000).alias("order_ts"),
    ).repartition(8)  # scrambled layout before the clustered write
    contract = Contract(
        raw={
            "table_name": "clustered_orders_test",
            "warehouse_path": "wh",
            "columns": {"order_id": {"type": "int"}, "order_ts": {"type": "int"}},
            "cluster_by": {"columns": ["order_ts"], "partitions": 4},
        }
    )
    stats = write_warehouse(df, contract, tmp_path)
    assert stats["row_count"] == 10_000
    assert_stats_equal_agg(stats, df, contract)
    out = tmp_path / "wh/clustered_orders_test"
    spans = []
    for fp in sorted(Path(out).glob("*.parquet")):
        md = pq.ParquetFile(str(fp)).metadata
        idx = {md.row_group(0).column(i).path_in_schema: i
               for i in range(md.row_group(0).num_columns)}
        st = md.row_group(0).column(idx["order_ts"]).statistics
        spans.append((st.min, st.max))
    assert len(spans) > 1
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # non-overlapping: each file owns a value range


def test_jsonl_roundtrip_and_corrupt_line(spark, tmp_path):
    """JSONL sink/source: documents-style rows survive a write/read
    roundtrip under a DECLARED schema, sharding controls file count, and
    a malformed line lands in _corrupt_record instead of failing."""
    from self_healing_data_pipeline_agent_spark.sources.jsonl import (
        read_jsonl, write_jsonl,
    )

    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "bonjour", "fr"), (3, "hallo", "de")],
        "doc_id bigint, text string, lang string",
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(df, out, shards=2)
    files = [p for p in Path(out).glob("part-*") if p.suffix == ".json"]
    assert len(files) == 2

    back = read_jsonl(spark, out, "doc_id bigint, text string, lang string")
    rows = {r["doc_id"]: r["text"] for r in back.collect()}
    assert rows == {1: "hello world", 2: "bonjour", 3: "hallo"}

    # inject a malformed line: PERMISSIVE keeps it in _corrupt_record
    bad = tmp_path / "docs_jsonl" / "part-zz-bad.json"
    bad.write_text('{"doc_id": 4, "text": "ok", "lang": "en"}\n{not json}\n')
    # Spark disallows querying ONLY _corrupt_record from a raw scan;
    # cache materializes the full rows first (the documented workaround)
    back2 = read_jsonl(spark, out, "doc_id bigint, text string, lang string").cache()
    n_corrupt = back2.filter("_corrupt_record IS NOT NULL").count()
    assert n_corrupt == 1
    assert back2.count() == 5  # 3 original + 1 good injected + 1 corrupt
