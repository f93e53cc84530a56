"""Driver-level tests modeled on the reference's functional fixtures
(tests/resources/Drivers/...): YAML dir source with path-derived ids,
YAML destination round trip (incl. nested payloads), CSV destination
atomic keyed merges, and full migrations through each."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration
from a2b_spark.exec.executor import run_migration
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.csv import CsvDestination
from a2b_spark.sinks.yaml_dir import YamlDirDestination
from a2b_spark.sources.base import DataFrameSource
from a2b_spark.sources.files import InvalidSourceError, ParquetSource
from a2b_spark.sources.yaml_dir import YamlDirSource


@pytest.fixture()
def yaml_tree(tmp_path):
    """Mirror of the reference fixture layout
    (tests/resources/Drivers/Source/YamlSourceDriverTest/group{1,2}/...):
    the last two path segments are the (group, ident) ids."""
    root = tmp_path / "yaml_src"
    for group, ident, body in [
        ("group1", "file1", "name: Alpha\nrank: 1\ntags:\n  - x\n  - y\n"),
        ("group1", "file2", "name: Beta\nrank: 2\ntags: []\n"),
        ("group2", "file3", "name: Gamma\nrank: 3\ntags:\n  - z\n"),
    ]:
        d = root / group
        d.mkdir(parents=True, exist_ok=True)
        (d / f"{ident}.yaml").write_text(body)
    (root / "group1" / ".hidden.yaml").write_text("name: Nope\n")
    return str(root)


def test_yaml_source_path_ids_and_nesting(spark, yaml_tree):
    src = YamlDirSource(
        yaml_tree, id_fields=(IdField("group", "string"), IdField("ident", "string"))
    )
    df = src.load(spark)
    rows = {r["ident"]: r for r in df.collect()}
    assert set(rows) == {"file1", "file2", "file3"}  # dotfile skipped
    assert rows["file1"]["group"] == "group1"
    assert rows["file3"]["group"] == "group2"
    assert rows["file1"]["name"] == "Alpha"
    assert list(rows["file1"]["tags"]) == ["x", "y"]
    assert rows["file1"]["rank"] == 1


def test_yaml_source_missing_dir_raises(spark, tmp_path):
    with pytest.raises(InvalidSourceError):
        YamlDirSource(str(tmp_path / "nope")).load(spark)


def test_yaml_schema_inference_is_sample_bounded(spark, yaml_tree, tmp_path):
    """Round-11 verdict item 3: the schema-less path must infer from a
    BOUNDED sample, not re-parse the whole corpus. Spied at
    _inference_sample (the single entry point of the inference read):
    the capped source hands inference exactly ``schema_sample_files``
    lines on an over-cap corpus, and the capped output is identical to
    the full-corpus inference when the sample covers the corpus."""
    samples = []
    orig = YamlDirSource._inference_sample

    class Spy(YamlDirSource):
        def _inference_sample(self, jsonl):
            s = orig(self, jsonl)
            samples.append(len(s))
            return s

    ids = (IdField("group", "string"), IdField("ident", "string"))
    # cap >= corpus (3 files): parsed output identical to uncapped
    capped = sorted(
        map(tuple, Spy(yaml_tree, ids, schema_sample_files=3).load(spark).collect())
    )
    full = sorted(
        map(tuple, Spy(yaml_tree, ids, schema_sample_files=None).load(spark).collect())
    )
    assert capped == full and samples == [3, 3]

    # over-cap corpus: inference consumes exactly the cap, and a field
    # born beyond every possible 2-file sample window still parses on
    # the rows the sampled schema covers (documents remain complete)
    big = tmp_path / "many"
    big.mkdir()
    for i in range(6):
        (big / f"f{i}.yaml").write_text(f"name: n{i}\nrank: {i}\n")
    samples.clear()
    df = Spy(str(big), (IdField("ident", "string"),), schema_sample_files=2).load(
        spark
    )
    assert df.count() == 6 and samples == [2]
    assert {r["name"] for r in df.collect()} == {f"n{i}" for i in range(6)}

    with pytest.raises(ValueError, match="schema_sample_files"):
        YamlDirSource(yaml_tree, ids, schema_sample_files=0)


def test_yaml_schema_inference_empty_dir(spark, tmp_path):
    """Zero matching files on the schema-less path: empty frame, not a
    crash in the sample-based inference."""
    d = tmp_path / "empty_yaml"
    d.mkdir()
    (d / "notes.txt").write_text("not yaml")
    assert YamlDirSource(str(d)).load(spark).count() == 0


def test_yaml_destination_round_trip(spark, tmp_path):
    ids = (IdField("group", "string"), IdField("ident", "string"))
    dest = YamlDirDestination(str(tmp_path / "yaml_out"), ids)
    df = spark.createDataFrame(
        [("g1", "a", "Alpha", 1), ("g1", "b", "Beta", 2), ("g2", "c", "Gamma", 3)],
        "group string, ident string, name string, rank int",
    )
    dest.merge(df)
    # layout: ids are the path, not the payload (YamlDriverTrait.php:75-85)
    assert os.path.exists(tmp_path / "yaml_out" / "g1" / "a.yaml")
    assert "name: Alpha" in (tmp_path / "yaml_out" / "g1" / "a.yaml").read_text()
    assert "group" not in (tmp_path / "yaml_out" / "g1" / "a.yaml").read_text()

    back = dest.read_snapshot(spark)
    assert back.count() == 3
    # upsert: same id overwrites, new id adds
    dest.merge(
        spark.createDataFrame(
            [("g1", "a", "ALPHA", 10), ("g2", "d", "Delta", 4)],
            "group string, ident string, name string, rank int",
        )
    )
    back = {(r["group"], r["ident"]): r for r in dest.read_snapshot(spark).collect()}
    assert len(back) == 4
    assert back[("g1", "a")]["name"] == "ALPHA"

    dest.delete_keys(spark.createDataFrame([("g1", "b")], "group string, ident string"))
    assert dest.read_snapshot(spark).count() == 3
    # a merge carrying deletes: a key in both ends as the batch row
    dest.merge(
        spark.createDataFrame(
            [("g1", "a", "A2", 11)], "group string, ident string, name string, rank int"
        ),
        delete=spark.createDataFrame(
            [("g1", "a"), ("g2", "c")], "group string, ident string"
        ),
    )
    back = {(r["group"], r["ident"]): r["name"] for r in dest.read_snapshot(spark).collect()}
    assert back == {("g1", "a"): "A2", ("g2", "d"): "Delta"}


def test_csv_destination_keyed_merge_and_schema(spark, tmp_path):
    dest = CsvDestination(str(tmp_path / "csv_out"), key_cols=("id",))
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id bigint, name string, score double"
    )
    dest.merge(df)
    back = dest.read_snapshot(spark)
    # _SCHEMA round trip: types survive the CSV text format
    assert dict(back.dtypes) == {"id": "bigint", "name": "string", "score": "double"}

    dest.merge(
        spark.createDataFrame([(2, "B", 9.9), (3, "c", 3.5)], "id bigint, name string, score double")
    )
    rows = {r["id"]: r for r in dest.read_snapshot(spark).collect()}
    assert len(rows) == 3 and rows[2]["name"] == "B" and rows[1]["name"] == "a"


def test_migration_into_yaml_and_csv(spark, tmp_path, sf_dir):
    nations = spark.read.parquet(f"{sf_dir}/nation.parquet")
    mapper = MappingStore(spark, str(tmp_path / "maps"))

    ycount = [0]
    for name, dest in [
        ("to_csv", CsvDestination(str(tmp_path / "csv_dest"), key_cols=("id",))),
        (
            "to_yaml",
            YamlDirDestination(str(tmp_path / "yaml_dest"), (IdField("id", "string"),)),
        ),
    ]:
        id_type = "int" if name == "to_csv" else "string"
        m = Migration(
            name=name,
            source=DataFrameSource(nations),
            destination=dest,
            source_ids=(IdField("n_nationkey", "int"),),
            destination_ids=(IdField("id", id_type),),
            transform=lambda d: d.select(
                "__src__", "__dest_id", "n_nationkey", F.lower("n_name").alias("nation")
            ),
        )
        r1 = run_migration(spark, m, mapper)
        r2 = run_migration(spark, m, mapper)  # update, not duplicate
        assert r1.rows_written == r2.rows_written == nations.count()
        assert dest.read_snapshot(spark).count() == nations.count()


def test_jdbc_source_live_derby(spark, tmp_path):
    """S2 live: JdbcSource pulls a real pushed-down query from embedded
    Derby, including the partitioned-range parallel-read path."""
    from a2b_spark.sources.sql import JdbcSource

    url = f"jdbc:derby:{tmp_path}/srcdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").write.format("jdbc").option(
        "url", url
    ).option("dbtable", "src_t").options(**props).mode("overwrite").save()

    plain = JdbcSource(url, 'SELECT "k", "v" FROM src_t WHERE "k" < 50', **props)
    df = plain.load(spark)
    assert df.count() == 50
    assert df.agg({"v": "max"}).first()[0] == 98

    ranged = JdbcSource(
        url,
        'SELECT "k", "v" FROM src_t',
        partition_column='"k"',
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
        **props,
    )
    rdf = ranged.load(spark)
    assert rdf.rdd.getNumPartitions() == 4
    assert rdf.count() == 100


def test_csv_header_only_rejected(spark, tmp_path):
    """Reference contract (CsvSourceDriver.php:50-54): header-only is
    as invalid as empty — a truncated export must fail loudly, not
    migrate zero rows (round-5 review)."""
    from a2b_spark.sources.files import CsvSource, InvalidSourceError

    p = tmp_path / "only_header.csv"
    p.write_text("id,name\n")
    with pytest.raises(InvalidSourceError, match="header-only"):
        CsvSource(str(p)).load(spark)


def test_mapping_lookup_ignores_preserved_rows(spark, tmp_path):
    """Orphan-preserve mapping rows carry ALL-NULL source ids; a
    NULL-keyed lookup row must come back unmapped (dest ids null),
    not fan out once per preserved entity (round-5 review)."""
    from a2b_spark.core.migration import IdField
    from a2b_spark.mapping.store import MappingStore

    mapper = MappingStore(spark, str(tmp_path / "maps"))
    sids = (IdField("sk", "int"),)
    dids = (IdField("dk", "int"),)
    from pyspark.sql import functions as F

    mb = spark.createDataFrame([(1, 101)], "sk int, dk int").select(
        F.col("sk").alias("source_sk"), F.col("dk").alias("dest_dk")
    )
    mapper.merge("mk", mb, sids, dids)
    # two preserved entities: all-NULL source ids (the executor's
    # preserve path builds exactly this shape)
    preserved = spark.createDataFrame([(900,), (901,)], "dk int").select(
        F.lit(None).cast("int").alias("source_sk"), F.col("dk").alias("dest_dk")
    )
    mapper.append_preserved("mk", preserved, sids, dids)
    keys = spark.createDataFrame([(1,), (None,)], "sk int")
    out = mapper.dest_ids_for("mk", keys, sids, dids)
    rows = out.collect()
    assert len(rows) == 2, f"NULL key fanned out: {rows}"
    got = {r["sk"]: r[out.columns[-1]] for r in rows}
    assert got[1] == 101 and got[None] is None


def test_jsonl_destination_keyed_merge_roundtrip(spark, tmp_path):
    """JSONL sink: keyed merge semantics + typed round trip through the
    text format (schema sidecar re-applied on read), and the on-disk
    layout really is line-delimited JSON objects — one parseable
    object per line, nested structs included."""
    import json as _json

    from a2b_spark.sinks.jsonl import JsonlDestination

    dest = JsonlDestination(str(tmp_path / "jl_out"), key_cols=("id",))
    df = spark.createDataFrame(
        [(1, "a", [1, 2], {"lang": "en"}), (2, "b", [3], {"lang": "de"})],
        "id bigint, text string, toks array<bigint>, meta map<string,string>",
    )
    dest.merge(df)
    back = dest.read_snapshot(spark)
    assert dict(back.dtypes) == {
        "id": "bigint",
        "text": "string",
        "toks": "array<bigint>",
        "meta": "map<string,string>",
    }

    dest.merge(
        spark.createDataFrame(
            [(2, "B", [9], {"lang": "fr"}), (3, "c", [], {"lang": "es"})],
            "id bigint, text string, toks array<bigint>, meta map<string,string>",
        )
    )
    rows = {r["id"]: r for r in dest.read_snapshot(spark).collect()}
    assert len(rows) == 3
    assert rows[2]["text"] == "B" and rows[2]["meta"]["lang"] == "fr"
    assert rows[1]["text"] == "a"

    # the live version dir contains genuine JSONL: every line parses
    vdir = os.path.join(dest.path, dest.table.current_version())
    lines = []
    for root, _, files in os.walk(vdir):
        for fn in files:
            if fn.endswith(".json"):
                with open(os.path.join(root, fn)) as f:
                    lines += [ln for ln in f.read().splitlines() if ln.strip()]
    parsed = [_json.loads(ln) for ln in lines]
    assert len(parsed) == 3 and {p["id"] for p in parsed} == {1, 2, 3}


def test_orc_destination_keyed_merge_roundtrip(spark, tmp_path, sf_dir):
    """ORC through the full versioned-table machinery: overwrite,
    keyed merge (update-not-duplicate), snapshot isolation across the
    merge, delete_keys, typed schema surviving the round trip — plus
    URI resolution through the driver registry."""
    from a2b_spark.core.drivers import resolve_destination, resolve_source
    from a2b_spark.sinks.orc import OrcDestination
    from a2b_spark.sources.files import OrcSource

    dest = resolve_destination(
        f"orc://{tmp_path}/orc_out", key_cols=("id",)
    )
    assert isinstance(dest, OrcDestination)
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, v double"
    )
    dest.merge(df)
    dest.merge(
        spark.createDataFrame(
            [(2, "B", 9.0), (3, "c", 3.5)], "id long, name string, v double"
        )
    )
    held = dest.read_snapshot(spark)
    got = {r.id: (r.name, r.v) for r in held.collect()}
    assert got == {1: ("a", 1.5), 2: ("B", 9.0), 3: ("c", 3.5)}
    # snapshot stays readable across a later merge (version isolation)
    dest.merge(spark.createDataFrame([(4, "d", 4.0)], "id long, name string, v double"))
    assert held.count() == 3 and dest.read_snapshot(spark).count() == 4
    dest.delete_keys(spark.createDataFrame([(1,)], "id long"))
    assert dest.read_snapshot(spark).count() == 3
    # the ORC source reads the live version dir back with full types
    live = f"{tmp_path}/orc_out/" + open(f"{tmp_path}/orc_out/_CURRENT").read().strip()
    src = resolve_source(f"orc://{live}")
    assert isinstance(src, OrcSource)
    back = src.load(spark)
    assert dict(back.dtypes)["v"] == "double" and back.count() == 3


def _job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_parquet_source_schema_from_footer(spark, tmp_path, sf_dir):
    """ParquetSource takes the schema from the footer on the driver: it
    equals what Spark infers (decimal, date, string, nested columns),
    for single files, a written directory, a partitioned directory and
    a glob, and loading launches no job."""
    bench = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "data")
    paths = sorted(glob.glob(f"{sf_dir}/*.parquet") + glob.glob(f"{bench}/sf0.01/*.parquet"))
    assert len(paths) >= 20
    df = spark.read.parquet(paths[0]).selectExpr("*", "cast(rand(7) * 2 AS int) AS part")
    df.write.parquet(str(tmp_path / "dir"))
    df.write.partitionBy("part").parquet(str(tmp_path / "parted"))
    paths += [str(tmp_path / "dir"), str(tmp_path / "parted"), f"{bench}/sf0.01/[nr]*.parquet"]
    for path in paths:
        before = _job_id(spark)
        schema = ParquetSource(path).load(spark).schema
        assert _job_id(spark) == before, path
        assert schema == spark.read.parquet(path).schema, path
    with pytest.raises(InvalidSourceError):
        ParquetSource(str(tmp_path / "missing")).load(spark)


def test_parquet_source_schema_merged_or_summarized(spark, tmp_path):
    """Where Spark reads more than one footer, ParquetSource infers as
    Spark does: with ``spark.sql.parquet.mergeSchema`` on, a column only
    a later file carries is kept; a ``_common_metadata`` summary file
    wins over the data files' footers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    merged = tmp_path / "merged"
    spark.createDataFrame([(1,)], "a long").write.parquet(str(merged / "k=1"))
    spark.createDataFrame([(2, "x")], "a long, b string").write.parquet(str(merged / "k=2"))
    summarized = tmp_path / "summarized"
    summarized.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(summarized / "part-0.parquet"))
    pq.write_metadata(
        pa.schema([("a", pa.int64()), ("c", pa.string())]),
        str(summarized / "_common_metadata"),
    )
    assert "c" in spark.read.parquet(str(summarized)).columns
    assert ParquetSource(str(summarized)).load(spark).schema == (
        spark.read.parquet(str(summarized)).schema
    )
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        schema = ParquetSource(str(merged)).load(spark).schema
        assert schema == spark.read.parquet(str(merged)).schema
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert {"a", "b", "k"} <= set(schema.fieldNames())
