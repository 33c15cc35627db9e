"""Pure-Python Delta transaction-log reader (sources/deltalog.py,
VERDICT r7 item 4): fixture tables with REAL protocol-format commit
logs (JSON actions + checkpoint parquet), read end-to-end through
read_lake_table — remove-actions honored, latest-snapshot default,
version time travel, partitionValues attach, reader-version guard."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_data_file(spark, root: str, rel: str, rows):
    """One physical parquet file at root/rel holding ``rows`` of
    (id, v) — written via Spark so footers/types match a real writer."""
    tmp = os.path.join(root, "_tmp_write")
    spark.createDataFrame(rows, "id long, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = next(
        n for n in os.listdir(tmp) if n.endswith(".parquet")
    )
    dst = os.path.join(root, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(os.path.join(tmp, part), dst)
    import shutil

    shutil.rmtree(tmp)


def _commit(root: str, version: int, actions: list[dict]) -> None:
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _meta(partition_columns=()):
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": SCHEMA_JSON,
            "partitionColumns": list(partition_columns),
            "configuration": {},
            "createdTime": 1700000000000,
        }
    }


def _protocol(reader=1):
    return {"protocol": {"minReaderVersion": reader, "minWriterVersion": 2}}


def _add(rel, partition_values=None):
    return {
        "add": {
            "path": rel,
            "partitionValues": partition_values or {},
            "size": 1,
            "modificationTime": 1700000000000,
            "dataChange": True,
        }
    }


def _remove(rel):
    return {
        "remove": {
            "path": rel,
            "deletionTimestamp": 1700000001000,
            "dataChange": True,
        }
    }


@pytest.fixture()
def delta_table(spark, tmp_path):
    """3-commit table: v0 adds f1, v1 adds f2, v2 removes f1."""
    root = str(tmp_path / "dl")
    _write_data_file(spark, root, "f1.parquet", [(1, "a"), (2, "b")])
    _write_data_file(spark, root, "f2.parquet", [(3, "c")])
    _commit(root, 0, [_protocol(), _meta(), _add("f1.parquet")])
    _commit(root, 1, [_add("f2.parquet")])
    _commit(root, 2, [_remove("f1.parquet")])
    return root


def test_latest_snapshot_honors_remove(spark, delta_table):
    """read_lake_table must route a _delta_log directory through the
    log replay: only the live file's rows survive, while a bare
    parquet scan of the same directory would return the tombstoned
    f1 rows too."""
    from fintech_lakehouse_spark.sources import read_lake_table

    got = sorted(
        (r["id"], r["v"]) for r in read_lake_table(spark, delta_table).collect()
    )
    assert got == [(3, "c")]
    bare = spark.read.parquet(delta_table)
    assert bare.count() == 3  # proves the log, not the listing, decided


def test_version_time_travel(spark, delta_table):
    from fintech_lakehouse_spark.sources import read_delta_table

    v0 = sorted(
        (r["id"], r["v"])
        for r in read_delta_table(spark, delta_table, version=0).collect()
    )
    v1 = sorted(
        (r["id"], r["v"])
        for r in read_delta_table(spark, delta_table, version=1).collect()
    )
    assert v0 == [(1, "a"), (2, "b")]
    assert v1 == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(ValueError, match="not present"):
        read_delta_table(spark, delta_table, version=9)


def test_partition_values_from_log_including_null(spark, tmp_path):
    """Partition columns come from the log's partitionValues (cast to
    the declared type), NOT from directory names — including a NULL
    partition value, which hive-style dir naming cannot represent
    losslessly."""
    from fintech_lakehouse_spark.sources import read_delta_table

    root = str(tmp_path / "dlp")
    _write_data_file(spark, root, "d=1/fa.parquet", [(1, "a")])
    _write_data_file(spark, root, "d=2/fb.parquet", [(2, "b")])
    _write_data_file(spark, root, "dnull/fc.parquet", [(3, "c")])
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "d", "type": "integer", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    meta = _meta(["d"])
    meta["metaData"]["schemaString"] = schema
    _commit(
        root,
        0,
        [
            _protocol(),
            meta,
            _add("d=1/fa.parquet", {"d": "1"}),
            _add("d=2/fb.parquet", {"d": "2"}),
            _add("dnull/fc.parquet", {"d": None}),
        ],
    )
    df = read_delta_table(spark, root)
    assert [f.name for f in df.schema.fields] == ["id", "v", "d"]
    assert dict(df.dtypes)["d"] == "int"
    got = sorted((r["id"], r["d"]) for r in df.collect())
    assert got == [(1, 1), (2, 2), (3, None)]


def test_checkpoint_replay(spark, tmp_path):
    """A checkpoint parquet + _last_checkpoint replaces the JSON
    commits at or below its version: replay starts from the compacted
    add set, later commits still apply."""
    from fintech_lakehouse_spark.sources import read_delta_table

    root = str(tmp_path / "dlc")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    _write_data_file(spark, root, "f2.parquet", [(2, "b")])
    _write_data_file(spark, root, "f3.parquet", [(3, "c")])
    # v0..v2 as JSON; checkpoint at v2 holds the NET state (f2 only:
    # f1 was added then removed); v3 adds f3 on top
    _commit(root, 0, [_protocol(), _meta(), _add("f1.parquet")])
    _commit(root, 1, [_add("f2.parquet")])
    _commit(root, 2, [_remove("f1.parquet")])
    log = os.path.join(root, "_delta_log")
    ck_rows = [
        {
            "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
            "metaData": None,
            "add": None,
            "remove": None,
        },
        {
            "protocol": None,
            "metaData": json.loads(json.dumps(_meta()["metaData"])),
            "add": None,
            "remove": None,
        },
        {
            "protocol": None,
            "metaData": None,
            "add": {
                "path": "f2.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1700000000000,
                "dataChange": True,
            },
            "remove": None,
        },
    ]
    ck_schema = (
        "protocol struct<minReaderVersion int, minWriterVersion int>, "
        "metaData struct<id string, format struct<provider string, "
        "options map<string,string>>, schemaString string, "
        "partitionColumns array<string>, "
        "configuration map<string,string>, createdTime long>, "
        "add struct<path string, partitionValues map<string,string>, "
        "size long, modificationTime long, dataChange boolean>, "
        "remove struct<path string, deletionTimestamp long, "
        "dataChange boolean>"
    )
    tmp_ck = os.path.join(root, "_tmp_ck")
    spark.createDataFrame(ck_rows, ck_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp_ck)
    part = next(n for n in os.listdir(tmp_ck) if n.endswith(".parquet"))
    os.replace(
        os.path.join(tmp_ck, part),
        os.path.join(log, f"{2:020d}.checkpoint.parquet"),
    )
    import shutil

    shutil.rmtree(tmp_ck)
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        fh.write(json.dumps({"version": 2, "size": 3}))
    # remove the pre-checkpoint JSON commits: replay MUST come from the
    # checkpoint now (a real retention clean-up does exactly this)
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    os.remove(os.path.join(log, f"{2:020d}.json"))
    _commit(root, 3, [_add("f3.parquet")])
    got = sorted(
        (r["id"], r["v"])
        for r in read_delta_table(spark, root).collect()
    )
    assert got == [(2, "b"), (3, "c")]


def test_reader_version_guard_fails_closed(spark, tmp_path):
    from fintech_lakehouse_spark.sources import read_delta_table

    root = str(tmp_path / "dlv")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    _commit(root, 0, [_protocol(reader=3), _meta(), _add("f1.parquet")])
    with pytest.raises(NotImplementedError, match="minReaderVersion"):
        read_delta_table(spark, root)


def test_empty_live_set_returns_empty_with_schema(spark, tmp_path):
    from fintech_lakehouse_spark.sources import read_delta_table

    root = str(tmp_path / "dle")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    _commit(root, 0, [_protocol(), _meta(), _add("f1.parquet")])
    _commit(root, 1, [_remove("f1.parquet")])
    df = read_delta_table(spark, root)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "v"]


def test_non_delta_path_unaffected(spark, tmp_path):
    """read_lake_table on a plain parquet dir (no _delta_log) keeps the
    bare scan path."""
    from fintech_lakehouse_spark.sources import read_lake_table

    root = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(root)
    assert read_lake_table(spark, root).count() == 1


def test_writer_reader_roundtrip_append_overwrite(spark, tmp_path):
    """The minimal Delta WRITER (write_delta_commit): append then
    overwrite, each a real JSON commit the reader replays — latest
    snapshot equals the overwrite, version time travel recovers each
    prior state, and the overwrite tombstones every pre-existing
    file."""
    from fintech_lakehouse_spark.sources.deltalog import (
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "wrt")
    import os

    os.makedirs(root)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    df3 = spark.createDataFrame([(9, "z")], "id long, v string")
    assert write_delta_commit(spark, df1, root, mode="append") == 0
    assert write_delta_commit(spark, df2, root, mode="append") == 1
    assert write_delta_commit(spark, df3, root, mode="overwrite") == 2

    def rows(version=None):
        return sorted(
            (r["id"], r["v"])
            for r in read_delta_table(spark, root, version=version).collect()
        )

    assert rows() == [(9, "z")]
    assert rows(0) == [(1, "a"), (2, "b")]
    assert rows(1) == [(1, "a"), (2, "b"), (3, "c")]
    # read_lake_table routes through the log too
    from fintech_lakehouse_spark.sources import read_lake_table

    assert sorted(
        (r["id"], r["v"]) for r in read_lake_table(spark, root).collect()
    ) == [(9, "z")]


def test_writer_partitioned_with_null_values(spark, tmp_path):
    """Partitioned writes stage hive-style dirs but commit
    partitionValues from the WRITER: values (including NULL →
    __HIVE_DEFAULT_PARTITION__) round-trip through the log, typed per
    the schema."""
    import os

    from fintech_lakehouse_spark.sources.deltalog import (
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "wrtp")
    os.makedirs(root)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None)],
        "id long, v string, d int",
    )
    write_delta_commit(spark, df, root, mode="append", partition_by=["d"])
    got = sorted(
        (r["id"], r["d"])
        for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, 10), (2, 20), (3, None)]
    out = read_delta_table(spark, root)
    assert dict(out.dtypes)["d"] == "int"


def test_writer_schema_mismatch_and_bad_mode(spark, tmp_path):
    import os

    import pytest

    from fintech_lakehouse_spark.sources.deltalog import write_delta_commit

    root = str(tmp_path / "wrts")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    write_delta_commit(spark, df, root)
    with pytest.raises(ValueError, match="schema column mismatch"):
        write_delta_commit(
            spark,
            spark.createDataFrame([(1,)], "only_col long"),
            root,
        )
    with pytest.raises(ValueError, match="mode"):
        write_delta_commit(spark, df, root, mode="merge")


def test_optimize_compacts_with_datachange_false(spark, tmp_path):
    """OPTIMIZE analog: many small files -> target_files compacted
    files committed with dataChange:false adds + tombstones; rows
    unchanged, prior versions still time-travelable, and the live
    file count actually drops."""
    import os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        optimize_delta_table,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "opt")
    os.makedirs(root)
    for i in range(6):
        write_delta_commit(
            spark,
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            root,
        )
    before = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    n_before = len(delta_snapshot(spark, root).files)
    assert n_before >= 6  # one-plus file per append commit
    version = optimize_delta_table(spark, root, target_files=2)
    snap = delta_snapshot(spark, root)
    assert snap.version == version and len(snap.files) == 2 < n_before
    after = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert after == before
    # dataChange:false on every add of the optimize commit
    import json as _json

    log = os.path.join(root, "_delta_log", f"{version:020d}.json")
    actions = [_json.loads(line) for line in open(log)]
    assert all(
        not a["add"]["dataChange"] for a in actions if "add" in a
    )
    # pre-optimize version still readable
    assert sorted(
        (r["id"], r["v"])
        for r in read_delta_table(spark, root, version=5).collect()
    ) == before


def test_optimize_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE ZORDER BY: rows land range-clustered on the Morton
    key — each compacted file covers a disjoint-ish id range (the
    file-pruning contract), content unchanged."""
    import os

    from fintech_lakehouse_spark.sources.deltalog import (
        optimize_delta_table,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "optz")
    os.makedirs(root)
    import random

    rng = random.Random(5)
    rows = [(i, rng.randrange(1000)) for i in range(400)]
    rng.shuffle(rows)
    write_delta_commit(
        spark,
        spark.createDataFrame(rows, "id long, x long"),
        root,
    )
    optimize_delta_table(spark, root, target_files=4, zorder=["x"])
    got = sorted((r["id"], r["x"]) for r in read_delta_table(spark, root).collect())
    assert got == sorted(rows)
    # per-file x ranges should be narrow vs the global range (the
    # pruning win): sum of per-file spans << n_files * global span
    import pyarrow.parquet as pq

    spans = []
    for name in os.listdir(root):
        if name.startswith("part-00001") and name.endswith(".parquet"):
            t = pq.read_table(os.path.join(root, name), columns=["x"])
            xs = t.column("x").to_pylist()
            spans.append(max(xs) - min(xs))
    assert len(spans) == 4
    assert sum(spans) < 4 * 999 * 0.6, spans


def test_vacuum_deletes_only_unretained(spark, tmp_path):
    """VACUUM analog: files live in NONE of the newest keep_versions
    snapshots are physically deleted; retained snapshots still read,
    older time travel breaks (the documented retention trade)."""
    import os

    import pytest

    from fintech_lakehouse_spark.sources.deltalog import (
        read_delta_table,
        vacuum_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "vac")
    os.makedirs(root)
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    write_delta_commit(spark, df1, root)  # v0
    write_delta_commit(spark, df2, root, mode="overwrite")  # v1
    write_delta_commit(spark, df1, root)  # v2: adds alongside df2? no —
    # v2 appends df1's rows to the v1 snapshot
    deleted = vacuum_delta_table(spark, root, keep_versions=2)
    # v1+v2 keep their files; only v0's file(s) die
    assert deleted and all(d.startswith("part-00000") for d in deleted)
    assert all(
        not os.path.isfile(os.path.join(root, d)) for d in deleted
    )
    got = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, "a"), (2, "b")]
    assert read_delta_table(spark, root, version=1).count() == 1
    # v0's data file is gone: reading that snapshot now fails
    with pytest.raises(Exception):
        read_delta_table(spark, root, version=0).collect()
    # idempotent: nothing left to delete
    assert vacuum_delta_table(spark, root, keep_versions=2) == []


def test_writer_partition_value_with_special_chars(spark, tmp_path):
    """Spark hive-escapes '='/'/' etc. in partition DIRECTORY names
    (space stays, '=' becomes %3D); the commit must carry the TRUE
    decoded value in partitionValues — the log is authoritative, not
    the directory spelling."""
    import os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "wrtsp")
    os.makedirs(root)
    df = spark.createDataFrame(
        [(1, "a b=c/d"), (2, "plain")], "id long, p string"
    )
    write_delta_commit(spark, df, root, partition_by=["p"])
    snap = delta_snapshot(spark, root)
    vals = sorted(pv["p"] for pv in snap.files.values())
    assert vals == ["a b=c/d", "plain"]
    got = sorted(
        (r["id"], r["p"]) for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, "a b=c/d"), (2, "plain")]


# ---------------------------------------------------------------- r9:
# column mapping (reader v2/v3), gapless-replay guard, partition_by
# validation, single-scan partition attach at high partition counts.

CM_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {
                "name": "id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-11111111",
                },
            },
            {
                "name": "v",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-22222222",
                },
            },
        ],
    }
)


def _cm_meta(mode="name", partition_columns=()):
    m = _meta(partition_columns)
    m["metaData"]["schemaString"] = CM_SCHEMA_JSON
    m["metaData"]["configuration"] = {
        "delta.columnMapping.mode": mode,
        "delta.columnMapping.maxColumnId": "2",
    }
    return m


def _write_cm_file(spark, root, rel, rows):
    """Physical file whose parquet columns use the PHYSICAL names."""
    tmp = os.path.join(root, "_tmp_cm")
    spark.createDataFrame(
        rows, "`col-11111111` long, `col-22222222` string"
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    dst = os.path.join(root, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(os.path.join(tmp, part), dst)
    import shutil

    shutil.rmtree(tmp)


def test_column_mapping_name_mode_reads_logical_names(spark, tmp_path):
    """minReaderVersion=2 + NAME-mode mapping: physical parquet columns
    resolve to the logical schema names, values intact."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "cm1")
    _write_cm_file(spark, root, "f1.parquet", [(1, "a"), (2, "b")])
    _commit(root, 0, [_protocol(reader=2), _cm_meta(), _add("f1.parquet")])
    df = read_delta_table(spark, root)
    assert [f.name for f in df.schema.fields] == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def test_column_mapping_partitioned_physical_partition_values(
    spark, tmp_path
):
    """Partition column under mapping: data files LACK the column, the
    add-action partitionValues are keyed by PHYSICAL name, and the
    logical name comes back typed per the schema."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "cm2")
    tmp = os.path.join(root, "_t")
    spark.createDataFrame([(1,)], "`col-11111111` long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), os.path.join(root, "f1.parquet"))
    import shutil

    shutil.rmtree(tmp)
    _commit(
        root,
        0,
        [
            _protocol(reader=2),
            _cm_meta(partition_columns=["v"]),
            _add("f1.parquet", {"col-22222222": "east"}),
        ],
    )
    got = [(r["id"], r["v"]) for r in read_delta_table(spark, root).collect()]
    assert got == [(1, "east")]


def test_reader_v3_column_mapping_feature_ok_others_refused(
    spark, tmp_path
):
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "cm3")
    _write_cm_file(spark, root, "f1.parquet", [(7, "z")])
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"],
        }
    }
    _commit(root, 0, [proto, _cm_meta(), _add("f1.parquet")])
    assert [
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    ] == [(7, "z")]

    root2 = str(tmp_path / "cm3b")
    _write_data_file(spark, root2, "f1.parquet", [(1, "a")])
    bad = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            # deletionVectors (r9), v2Checkpoint (r10), timestampNtz /
            # typeWidening / variantType / vacuumProtocolCheck (r14)
            # became supported — icebergCompatV2 is a
            # still-unimplemented feature that must fail closed
            "readerFeatures": ["columnMapping", "icebergCompatV2"],
        }
    }
    _commit(root2, 0, [bad, _meta(), _add("f1.parquet")])
    with pytest.raises(NotImplementedError, match="icebergCompatV2"):
        read_delta_table(spark, root2)


def test_id_mode_mapping_physicalname_fallback(spark, tmp_path):
    """ID-mode table whose files carry NO parquet field ids (the
    delta-spark-written case — files use the physicalName): resolution
    falls back to the schema's physicalName metadata (r10, VERDICT r9
    item 5 — was a blanket refusal)."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "cm4")
    _write_cm_file(spark, root, "f1.parquet", [(1, "a")])
    _commit(root, 0, [_protocol(reader=2), _cm_meta(mode="id"),
                      _add("f1.parquet")])
    df = read_delta_table(spark, root)
    assert [f.name for f in df.schema.fields] == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [(1, "a")]


def _write_fieldid_file(root: str, rel: str, names, ids, cols) -> None:
    """Physical parquet file written with EXPLICIT parquet field ids
    (the converted-Iceberg shape id-mode exists for): arrow fields
    carry the ``PARQUET:field_id`` metadata pyarrow maps to the
    parquet footer's field_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [
        pa.field(n, pa.array(c).type).with_metadata(
            {b"PARQUET:field_id": str(i).encode()}
        )
        for n, i, c in zip(names, ids, cols)
    ]
    table = pa.Table.from_arrays(
        [pa.array(c) for c in cols], schema=pa.schema(fields)
    )
    dst = os.path.join(root, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    pq.write_table(table, dst)


def test_id_mode_mapping_resolves_by_parquet_field_id(spark, tmp_path):
    """ID-mode against files whose physical column NAMES differ from
    the schema's physicalName metadata (a foreign writer): columns
    resolve by parquet footer field id, not by name."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "cm5")
    # logical ids: id→1, v→2 (CM_SCHEMA_JSON); physical names are
    # arbitrary foreign ones
    _write_fieldid_file(
        root, "f1.parquet", ["iceberg_c1", "iceberg_c2"], [1, 2],
        [[1, 2], ["a", "b"]],
    )
    _commit(root, 0, [_protocol(reader=2), _cm_meta(mode="id"),
                      _add("f1.parquet")])
    df = read_delta_table(spark, root)
    assert [f.name for f in df.schema.fields] == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [
        (1, "a"), (2, "b"),
    ]


def test_id_mode_conflicting_footer_names_refused(spark, tmp_path):
    """Two files naming the same field id DIFFERENTLY would need a
    grouped per-signature scan — fail closed."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "cm6")
    _write_fieldid_file(root, "f1.parquet", ["n1", "n2"], [1, 2],
                        [[1], ["a"]])
    _write_fieldid_file(root, "f2.parquet", ["other", "n2"], [1, 2],
                        [[2], ["b"]])
    _commit(root, 0, [_protocol(reader=2), _cm_meta(mode="id"),
                      _add("f1.parquet"), _add("f2.parquet")])
    with pytest.raises(NotImplementedError, match="field id 1"):
        read_delta_table(spark, root)


def test_unknown_dv_storage_type_refused(spark, tmp_path):
    # a deletionVector with an UNKNOWN storage type still fails closed
    # (decode support is r9 — see the dedicated DV tests below)
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root2 = str(tmp_path / "cm4b")
    _write_data_file(spark, root2, "f1.parquet", [(1, "a")])
    a = _add("f1.parquet")
    a["add"]["deletionVector"] = {
        "storageType": "x", "pathOrInlineDv": "x", "offset": 1,
        "sizeInBytes": 40, "cardinality": 1,
    }
    _commit(root2, 0, [_protocol(), _meta(), a])
    with pytest.raises(NotImplementedError, match="storageType"):
        read_delta_table(spark, root2).collect()


NESTED_CM_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {
                "name": "id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-11111111",
                },
            },
            {
                "name": "payload",
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "amount",
                            "type": "long",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 3,
                                "delta.columnMapping.physicalName":
                                    "col-33333333",
                            },
                        },
                        {
                            "name": "tags",
                            "type": {
                                "type": "array",
                                "elementType": {
                                    "type": "struct",
                                    "fields": [
                                        {
                                            "name": "k",
                                            "type": "string",
                                            "nullable": True,
                                            "metadata": {
                                                "delta.columnMapping.id": 5,
                                                "delta.columnMapping."
                                                "physicalName":
                                                    "col-55555555",
                                            },
                                        }
                                    ],
                                },
                                "containsNull": True,
                            },
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 4,
                                "delta.columnMapping.physicalName":
                                    "col-44444444",
                            },
                        },
                    ],
                },
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-22222222",
                },
            },
        ],
    }
)


def test_column_mapping_name_mode_nested_fields(spark, tmp_path):
    """ADVICE r9 (high): NAME-mode mapping renames nested struct /
    array-of-struct fields too — resolving only top-level names read
    nested values back as NULL."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "cmn")
    tmp = os.path.join(root, "_t")
    spark.createDataFrame(
        [(1, (42, [("x",)]))],
        "`col-11111111` long, `col-22222222` struct<`col-33333333`:long, "
        "`col-44444444`:array<struct<`col-55555555`:string>>>",
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    os.makedirs(root, exist_ok=True)
    os.replace(os.path.join(tmp, part), os.path.join(root, "f1.parquet"))
    import shutil

    shutil.rmtree(tmp)
    m = _meta()
    m["metaData"]["schemaString"] = NESTED_CM_SCHEMA_JSON
    m["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "5",
    }
    _commit(root, 0, [_protocol(reader=2), m, _add("f1.parquet")])
    df = read_delta_table(spark, root)
    row = df.collect()[0]
    assert row["id"] == 1
    # the ADVICE repro: nested value 42 must come back as 42, not None
    assert row["payload"]["amount"] == 42
    assert row["payload"]["tags"][0]["k"] == "x"


def test_column_mapping_nested_missing_physicalname_refused(
    spark, tmp_path
):
    """A name-mapped schema whose NESTED field lacks physicalName is
    corrupt metadata — fail closed at snapshot time."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "cmbad")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    bad = json.loads(NESTED_CM_SCHEMA_JSON)
    del bad["fields"][1]["type"]["fields"][0]["metadata"][
        "delta.columnMapping.physicalName"
    ]
    m = _meta()
    m["metaData"]["schemaString"] = json.dumps(bad)
    m["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}
    _commit(root, 0, [_protocol(reader=2), m, _add("f1.parquet")])
    with pytest.raises(ValueError, match="amount.*physicalName"):
        read_delta_table(spark, root)


def test_gapped_log_refused(spark, tmp_path):
    """ADVICE r8: an externally-cleaned log with no covering checkpoint
    must raise, not silently replay the surviving suffix."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "gap")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    _write_data_file(spark, root, "f2.parquet", [(2, "b")])
    _commit(root, 0, [_protocol(), _meta(), _add("f1.parquet")])
    _commit(root, 1, [_add("f2.parquet")])
    _commit(root, 2, [_remove("f1.parquet")])
    os.remove(os.path.join(root, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(ValueError, match="GAPPED"):
        read_delta_table(spark, root)


def test_writer_partition_by_mismatch_refused(spark, tmp_path):
    """ADVICE r8: appending with partition_by to a table created with
    different partitioning must raise (silent NULL-fill corruption
    otherwise)."""
    from fintech_lakehouse_spark.sources.deltalog import write_delta_commit

    root = str(tmp_path / "pbm")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "a", 1)], "id long, v string, d int")
    write_delta_commit(spark, df, root)  # unpartitioned
    with pytest.raises(ValueError, match="partition_by mismatch"):
        write_delta_commit(spark, df, root, partition_by=["d"])
    root2 = str(tmp_path / "pbm2")
    os.makedirs(root2)
    write_delta_commit(spark, df, root2, partition_by=["d"])
    with pytest.raises(ValueError, match="partition_by mismatch"):
        write_delta_commit(spark, df, root2)  # drops partitioning
    with pytest.raises(ValueError, match="partition_by mismatch"):
        write_delta_commit(spark, df, root2, partition_by=["v"])
    # matching partitioning still appends fine
    write_delta_commit(spark, df, root2, partition_by=["d"])


def test_many_partition_values_single_scan(spark, tmp_path):
    """VERDICT r8 item 3: ≥500 distinct partition values must read
    through ONE scan + broadcast partitionValues join — bounded plan
    size (no union-per-value), every value correctly attached."""
    import time

    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "many")
    os.makedirs(os.path.join(root, "_delta_log"))
    # one Spark-written physical file, hard-linked to 512 distinct
    # paths: fixture cost stays tiny while the PLAN must still handle
    # 512 distinct partition values. All rows share id=0 physically;
    # the distinguishing column is the log-attached partition value.
    _write_data_file(spark, root, "seed.parquet", [(0, "x")])
    meta = _meta(partition_columns=["v"])
    adds = []
    for p in range(512):
        rel = f"part-{p:05d}.parquet"
        os.link(
            os.path.join(root, "seed.parquet"), os.path.join(root, rel)
        )
        adds.append(_add(rel, {"v": f"part_{p}"}))
    _commit(root, 0, [_protocol(), meta, *adds])
    t0 = time.monotonic()
    df = read_delta_table(spark, root)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # a union-per-value plan contains hundreds of Union children; the
    # single-scan shape has none
    assert "Union" not in plan
    rows = df.collect()
    elapsed = time.monotonic() - t0
    assert sorted(r["v"] for r in rows) == sorted(
        f"part_{p}" for p in range(512)
    )
    assert {r["id"] for r in rows} == {0}
    assert elapsed < 60, f"512-partition read took {elapsed:.1f}s"


# ------------------------------------------------------------- r9 DVs:
# deletion-vector decode (sources/deletionvectors.py) + reader wiring.

def _roaring_portable(values):
    """Test-side encoder: 'RoaringBitmapArray portable' bytes from
    64-bit row indexes — array containers at card <= 4096, bitmap
    containers above (the spec's container rule)."""
    import struct
    from collections import defaultdict

    by_key = defaultdict(lambda: defaultdict(list))
    for v in sorted(values):
        by_key[v >> 32][(v & 0xFFFFFFFF) >> 16].append(v & 0xFFFF)
    out = struct.pack("<i", 1681511377) + struct.pack("<q", len(by_key))
    for key in sorted(by_key):
        containers = by_key[key]
        out += struct.pack("<i", key)
        out += struct.pack("<I", 12346)  # SERIAL_COOKIE_NO_RUNCONTAINER
        out += struct.pack("<I", len(containers))
        for hk in sorted(containers):
            out += struct.pack("<HH", hk, len(containers[hk]) - 1)
        # offset header (required by the no-run cookie); sequential
        # readers may skip it, but compute it correctly anyway
        pos = 0
        for hk in sorted(containers):
            out += struct.pack("<I", pos)
            pos += (2 * len(containers[hk])
                    if len(containers[hk]) <= 4096 else 8192)
        for hk in sorted(containers):
            vals = containers[hk]
            if len(vals) <= 4096:
                out += struct.pack(f"<{len(vals)}H", *vals)
            else:  # bitmap container
                words = [0] * 1024
                for v in vals:
                    words[v >> 6] |= 1 << (v & 63)
                out += struct.pack("<1024Q", *words)
    return out


def test_roaring_decode_all_container_kinds():
    """decode_roaring_bitmap_array handles array, bitmap, and run
    containers (both cookie forms) and multi-key 64-bit values."""
    import struct

    from fintech_lakehouse_spark.sources.deletionvectors import (
        decode_roaring_bitmap_array,
    )

    # array containers, two high-32 keys
    vals = [1, 5, 70000, (3 << 32) | 9]
    assert decode_roaring_bitmap_array(_roaring_portable(vals)) == sorted(
        vals
    )
    # bitmap container: card > 4096 in one 16-bit chunk
    dense = list(range(0, 9000, 2))  # 4500 values
    buf = struct.pack("<i", 1681511377) + struct.pack("<q", 1)
    buf += struct.pack("<i", 0)
    buf += struct.pack("<I", 12346) + struct.pack("<I", 1)
    buf += struct.pack("<HH", 0, len(dense) - 1)
    buf += struct.pack("<I", 0)
    words = [0] * 1024
    for v in dense:
        words[v >> 6] |= 1 << (v & 63)
    buf += struct.pack("<1024Q", *words)
    assert decode_roaring_bitmap_array(buf) == dense
    # run container via the run cookie (runs bitset, 1 container)
    buf = struct.pack("<i", 1681511377) + struct.pack("<q", 1)
    buf += struct.pack("<i", 0)
    buf += struct.pack("<I", 12347 | (0 << 16))  # 1 container
    buf += bytes([0b1])  # container 0 is a run
    buf += struct.pack("<HH", 2, 6 - 1)  # key 2, cardinality 6
    # < 4 containers with run cookie: NO offset header
    buf += struct.pack("<H", 2)  # two runs
    buf += struct.pack("<HH", 10, 2)  # 10,11,12
    buf += struct.pack("<HH", 100, 2)  # 100,101,102
    got = decode_roaring_bitmap_array(buf)
    assert got == [(2 << 16) | v for v in (10, 11, 12, 100, 101, 102)]


def test_z85_roundtrip_and_errors():
    import pytest

    from fintech_lakehouse_spark.sources.deletionvectors import (
        z85_decode,
        z85_encode,
    )

    for raw in (b"", b"abcd", b"\x00\x01\x02\x03\xff" * 5):
        enc = z85_encode(raw)
        assert z85_decode(enc)[: len(raw)] == raw
    with pytest.raises(ValueError, match="multiple of 5"):
        z85_decode("abc")
    with pytest.raises(ValueError, match="invalid character"):
        z85_decode('"""""')


def test_inline_deletion_vector_filters_rows(spark, tmp_path):
    """v3 + deletionVectors feature, inline descriptor: the read
    returns exactly the non-deleted rows; time travel to the pre-DV
    version still returns all rows."""
    from fintech_lakehouse_spark.sources.deletionvectors import z85_encode
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "dvi")
    _write_data_file(spark, root, "f1.parquet", [(i, f"v{i}") for i in range(10)])
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }
    }
    _commit(root, 0, [proto, _meta(), _add("f1.parquet")])
    # delete row indexes 1, 3, 8 via a re-add carrying an inline DV
    bitmap = _roaring_portable([1, 3, 8])
    a = _add("f1.parquet")
    a["add"]["deletionVector"] = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(bitmap),
        "offset": None,
        "sizeInBytes": len(bitmap),
        "cardinality": 3,
    }
    _commit(root, 1, [a])
    got = sorted(r["id"] for r in read_delta_table(spark, root).collect())
    assert got == [0, 2, 4, 5, 6, 7, 9]
    # VERSION AS OF 0: the DV does not exist yet
    pre = sorted(
        r["id"] for r in read_delta_table(spark, root, version=0).collect()
    )
    assert pre == list(range(10))


def test_file_deletion_vector_with_partitions_and_crc(spark, tmp_path):
    """'u'-storage DV file (version byte + BE size + bitmap + BE CRC),
    z85 uuid path resolution, on a PARTITIONED table — and a corrupted
    CRC fails closed."""
    import struct
    import uuid as uuid_mod
    import zlib

    import pytest

    from fintech_lakehouse_spark.sources.deletionvectors import z85_encode
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "dvu")
    _write_data_file(spark, root, "f1.parquet", [(i, "x") for i in range(6)])
    _write_data_file(spark, root, "f2.parquet", [(i, "y") for i in range(6, 9)])
    u = uuid_mod.UUID(int=0x1234567890ABCDEF1234567890ABCDEF)
    bitmap = _roaring_portable([0, 5])
    body = struct.pack(">i", len(bitmap)) + bitmap + struct.pack(
        ">I", zlib.crc32(bitmap) & 0xFFFFFFFF
    )
    blob = bytes([1]) + b"\x00" * 7 + body  # DV data at offset 8
    with open(f"{root}/deletion_vector_{u}.bin", "wb") as fh:
        fh.write(blob)
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }
    }
    a1 = _add("f1.parquet", {"v": "x"})
    a1["add"]["deletionVector"] = {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(u.bytes),
        "offset": 8,
        "sizeInBytes": len(bitmap),
        "cardinality": 2,
    }
    _commit(root, 0, [proto, _meta(partition_columns=["v"]), a1,
                      _add("f2.parquet", {"v": "y"})])
    got = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, "x"), (2, "x"), (3, "x"), (4, "x"),
                   (6, "y"), (7, "y"), (8, "y")]
    # corrupt the CRC: fail closed
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with open(f"{root}/deletion_vector_{u}.bin", "wb") as fh:
        fh.write(bytes(bad))
    with pytest.raises(ValueError, match="CRC"):
        read_delta_table(spark, root).collect()


def test_dv_cardinality_mismatch_and_unknown_feature_refused(
    spark, tmp_path
):
    import pytest

    from fintech_lakehouse_spark.sources.deletionvectors import z85_encode
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "dvc")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
        }
    }
    bitmap = _roaring_portable([0])
    a = _add("f1.parquet")
    a["add"]["deletionVector"] = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(bitmap),
        "offset": None,
        "sizeInBytes": len(bitmap),
        "cardinality": 7,  # lies
    }
    _commit(root, 0, [proto, _meta(), a])
    with pytest.raises(ValueError, match="cardinality"):
        read_delta_table(spark, root).collect()


def test_delete_from_delta_table_copy_on_write(spark, tmp_path):
    """DELETE rewrites ONLY the files containing matching rows; other
    files keep their physical identity, prior versions stay
    time-travelable, NULL-condition rows survive, and an empty DELETE
    commits nothing."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "del")
    _os.makedirs(root)
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id long, v string"
    )
    df2 = spark.createDataFrame([(10, "z"), (11, "z")], "id long, v string")
    write_delta_commit(spark, df1.coalesce(1), root)
    write_delta_commit(spark, df2.coalesce(1), root)
    before = set(delta_snapshot(spark, root).files)
    v = delete_from_delta_table(spark, root, "v = 'b'")
    assert v == 2
    got = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    # row 2 deleted; NULL-condition row 3 kept (SQL DELETE semantics)
    assert got == [(1, "a"), (3, None), (10, "z"), (11, "z")]
    after = set(delta_snapshot(spark, root).files)
    # df2's file is untouched — same physical path survives
    assert len(before & after) == 1
    # time travel: pre-delete version intact
    pre = sorted(
        (r["id"], r["v"])
        for r in read_delta_table(spark, root, version=1).collect()
    )
    assert pre == [(1, "a"), (2, "b"), (3, None), (10, "z"), (11, "z")]
    # empty DELETE: no new commit
    assert delete_from_delta_table(spark, root, "v = 'nope'") == 2
    assert delta_snapshot(spark, root).version == 2


def test_update_delta_table_copy_on_write(spark, tmp_path):
    """UPDATE applies SET expressions (evaluated against the PRE-update
    row) to matching rows only, carries non-matching rows of touched
    files unchanged, and validates SET column names."""
    import os as _os

    import pytest

    from fintech_lakehouse_spark.sources.deltalog import (
        read_delta_table,
        update_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "upd")
    _os.makedirs(root)
    df = spark.createDataFrame(
        [(1, 100, "x"), (2, 200, "x"), (3, 300, "y")],
        "id long, amt long, tag string",
    )
    write_delta_commit(spark, df.coalesce(1), root)
    update_delta_table(
        spark, root, "tag = 'x'",
        {"amt": "amt + id", "tag": "concat(tag, '!')"},
    )
    got = sorted(
        (r["id"], r["amt"], r["tag"])
        for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, 101, "x!"), (2, 202, "x!"), (3, 300, "y")]
    with pytest.raises(ValueError, match="unknown columns"):
        update_delta_table(spark, root, "id = 1", {"nope": "1"})


def test_checkpoint_schema_is_protocol_exact(spark, tmp_path):
    """ADVICE r9 (medium): the checkpoint parquet must use the
    protocol's EXPLICIT schema — map<string,string> partitionValues
    (not an inferred struct), real size/modificationTime carried
    verbatim from the add actions, empty maps preserved — so a real
    delta-spark reader can consume it after expire_delta_log."""
    import os as _os

    from pyspark.sql.types import MapType, StringType

    from fintech_lakehouse_spark.sources.deltalog import (
        checkpoint_delta_table,
        delta_snapshot,
        expire_delta_log,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "cksch")
    _os.makedirs(root)
    write_delta_commit(
        spark,
        spark.createDataFrame([(1, "a", 7), (2, "b", 8)],
                              "id long, v string, d int"),
        root,
        partition_by=["d"],
    )
    # unpartitioned second table exercises the EMPTY partitionValues map
    root2 = str(tmp_path / "cksch2")
    _os.makedirs(root2)
    write_delta_commit(
        spark, spark.createDataFrame([(1, "a")], "id long, v string"), root2
    )
    real_adds = {
        rel: dict(a) for rel, a in delta_snapshot(spark, root).adds_raw.items()
    }
    v = checkpoint_delta_table(spark, root)
    checkpoint_delta_table(spark, root2)
    ck = spark.read.parquet(
        _os.path.join(root, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    add_t = {f.name: f.dataType for f in ck.schema["add"].dataType.fields}
    assert isinstance(add_t["partitionValues"], MapType)
    assert isinstance(add_t["partitionValues"].keyType, StringType)
    md_t = {f.name: f.dataType for f in ck.schema["metaData"].dataType.fields}
    assert isinstance(md_t["configuration"], MapType)
    adds = [
        r["add"].asDict(recursive=True)
        for r in ck.collect()
        if r["add"] is not None
    ]
    assert len(adds) == 2
    for a in adds:
        ra = real_adds[a["path"]]
        # real size/mtime, NOT the previous fabricated size=1/mtime=0
        assert a["size"] == ra["size"] and a["size"] > 1
        assert a["modificationTime"] == ra["modificationTime"] > 0
        assert a["partitionValues"] in ({"d": "7"}, {"d": "8"})
    ck2 = spark.read.parquet(
        _os.path.join(
            root2, "_delta_log", "00000000000000000000.checkpoint.parquet"
        )
    )
    a2 = [r["add"] for r in ck2.collect() if r["add"] is not None][0]
    assert a2["partitionValues"] == {}  # empty map preserved, not dropped
    # and the bridge itself still replays through it
    expire_delta_log(spark, root)
    got = sorted(
        (r["id"], r["v"], r["d"])
        for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, "a", 7), (2, "b", 8)]


def test_checkpoint_writer_and_log_expiry(spark, tmp_path):
    """checkpoint_delta_table (r9): the bridge emits its OWN
    checkpoint — after expire_delta_log removes every covered JSON
    commit, the snapshot still replays identically (files, partition
    values, schema), later commits apply on top, and a fresh append
    allocates the next version from the checkpoint."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        checkpoint_delta_table,
        delta_snapshot,
        expire_delta_log,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "ckw")
    _os.makedirs(root)
    d = spark.createDataFrame([(1, "a", 7)], "id long, v string, d int")
    write_delta_commit(spark, d, root, partition_by=["d"])
    write_delta_commit(
        spark,
        spark.createDataFrame([(2, "b", 8)], "id long, v string, d int"),
        root,
        partition_by=["d"],
    )
    assert checkpoint_delta_table(spark, root) == 1
    before = sorted(
        (r["id"], r["v"], r["d"])
        for r in read_delta_table(spark, root).collect()
    )
    gone = expire_delta_log(spark, root)
    assert len(gone) == 2  # both covered JSON commits removed
    after = sorted(
        (r["id"], r["v"], r["d"])
        for r in read_delta_table(spark, root).collect()
    )
    assert after == before == [(1, "a", 7), (2, "b", 8)]
    snap = delta_snapshot(spark, root)
    assert snap.version == 1 and snap.partition_columns == ["d"]
    # a later commit applies ON TOP of the checkpoint
    v = write_delta_commit(
        spark,
        spark.createDataFrame([(3, "c", 9)], "id long, v string, d int"),
        root,
        partition_by=["d"],
    )
    assert v == 2
    assert read_delta_table(spark, root).count() == 3


def test_multipart_checkpoint_read_and_incomplete_skip(spark, tmp_path):
    """Multi-part checkpoints (<v>.checkpoint.<i>.<n>.parquet) read all
    parts; an INCOMPLETE part set is skipped in favor of an older
    complete checkpoint (fail-safe, never a partial file list)."""
    import shutil

    from fintech_lakehouse_spark.sources.deltalog import (
        _checkpoint_files,
        read_delta_table,
    )

    root = str(tmp_path / "mpc")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    _write_data_file(spark, root, "f2.parquet", [(2, "b")])
    _commit(root, 0, [_protocol(), _meta(), _add("f1.parquet")])
    _commit(root, 1, [_add("f2.parquet")])
    log = os.path.join(root, "_delta_log")

    def _ck_parts(version, rows_groups, n_total, drop_part=None):
        for i, group in enumerate(rows_groups, start=1):
            if drop_part == i:
                continue
            tmp = os.path.join(root, "_t")
            spark.read.json(
                spark.sparkContext.parallelize(
                    [json.dumps(a) for a in group], 1
                )
            ).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                n for n in os.listdir(tmp) if n.endswith(".parquet")
            )
            os.replace(
                os.path.join(tmp, part),
                os.path.join(
                    log,
                    f"{version:020d}.checkpoint."
                    f"{i:010d}.{n_total:010d}.parquet",
                ),
            )
            shutil.rmtree(tmp)

    # complete 2-part checkpoint at v1
    _ck_parts(
        1,
        [[_protocol(), _meta()],
         [_add("f1.parquet"), _add("f2.parquet")]],
        2,
    )
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    got = sorted(r["id"] for r in read_delta_table(spark, root).collect())
    assert got == [1, 2]
    # an incomplete LATER multi-part checkpoint must be skipped
    _write_data_file(spark, root, "f3.parquet", [(3, "c")])
    _commit(root, 2, [_add("f3.parquet")])
    _ck_parts(2, [[_protocol(), _meta()], [_add("f1.parquet")]], 3,
              drop_part=None)  # claims 3 parts, only 2 exist
    v, paths = _checkpoint_files(log, 1 << 62)
    assert v == 1 and len(paths) == 2  # fell back to the complete one
    got = sorted(r["id"] for r in read_delta_table(spark, root).collect())
    assert got == [1, 2, 3]


def test_z85_spec_vector_pins_alphabet():
    """The zeromq rfc/32 test vector: 0x86 4F D2 6F B5 59 F7 5B ↔
    'HelloWorld' — pins THIS alphabet (delta-spark's Base85Codec), not
    python's RFC-1924 base64.b85, whose output differs."""
    import base64

    from fintech_lakehouse_spark.sources.deletionvectors import (
        z85_decode,
        z85_encode,
    )

    v = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(v) == "HelloWorld"
    assert z85_decode("HelloWorld") == v
    assert base64.b85encode(v).decode() != "HelloWorld"  # the wrong codec


def test_deletion_vector_thousands_of_rows(spark, tmp_path):
    """DV anti-join at realistic cardinality: 5,000 of 12,000 rows
    deleted via an inline DV whose bitmap spans array AND bitmap
    containers (the >4096-per-chunk case)."""
    from fintech_lakehouse_spark.sources.deletionvectors import z85_encode
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "dvbig")
    rows = [(i, f"v{i % 97}") for i in range(12_000)]
    _write_data_file(spark, root, "f1.parquet", rows)
    deleted = sorted(set(range(0, 10_000, 2)))  # 5,000 row indexes
    bitmap = _roaring_portable(deleted)
    a = _add("f1.parquet")
    a["add"]["deletionVector"] = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(bitmap),
        "offset": None,
        "sizeInBytes": len(bitmap),
        "cardinality": len(deleted),
    }
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
        }
    }
    _commit(root, 0, [proto, _meta(), a])
    df = read_delta_table(spark, root)
    assert df.count() == 12_000 - 5_000
    got_ids = {r["id"] for r in df.select("id").collect()}
    assert got_ids == set(range(12_000)) - set(deleted)


def test_deletion_vector_distributed_decode_path(spark, tmp_path, monkeypatch):
    """VERDICT r9 item 1 — above DV_BROADCAST_MAX_ROWS the descriptors
    decode on the EXECUTORS (mapInPandas) and the anti-join shuffles;
    result must be identical to the driver-broadcast path, across two
    files with distinct DVs."""
    from fintech_lakehouse_spark.sources import deltalog
    from fintech_lakehouse_spark.sources.deletionvectors import z85_encode

    root = str(tmp_path / "dvdist")
    _write_data_file(spark, root, "f1.parquet",
                     [(i, f"a{i}") for i in range(3000)])
    _write_data_file(spark, root, "f2.parquet",
                     [(i, f"b{i}") for i in range(3000, 6000)])
    del1 = sorted(range(0, 3000, 3))
    del2 = sorted(range(1, 3000, 7))  # indexes within f2
    adds = []
    for rel, dels in (("f1.parquet", del1), ("f2.parquet", del2)):
        bitmap = _roaring_portable(dels)
        a = _add(rel)
        a["add"]["deletionVector"] = {
            "storageType": "i",
            "pathOrInlineDv": z85_encode(bitmap),
            "offset": None,
            "sizeInBytes": len(bitmap),
            "cardinality": len(dels),
        }
        adds.append(a)
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
        }
    }
    _commit(root, 0, [proto, _meta(), *adds])
    expect_broadcast = sorted(
        r["id"]
        for r in deltalog.read_delta_table(spark, root).select("id").collect()
    )
    monkeypatch.setattr(deltalog, "DV_BROADCAST_MAX_ROWS", 0)
    got_distributed = sorted(
        r["id"]
        for r in deltalog.read_delta_table(spark, root).select("id").collect()
    )
    want = sorted(
        (set(range(3000)) - set(del1))
        | (set(range(3000, 6000)) - {3000 + i for i in del2})
    )
    assert expect_broadcast == got_distributed == want


# ------------------------------------------------------------- r10:
# deletion-vector WRITE (VERDICT r9 item 2): roaring encoder, DV-mode
# DELETE/UPDATE, OPTIMIZE compaction of DV tables, vacuum of orphaned
# DV files.


def test_roaring_encoder_roundtrips_all_shapes():
    """encode_roaring_bitmap_array → decode_roaring_bitmap_array is
    identity across array containers, bitmap containers (>4096 per
    16-bit chunk), multiple chunks and multiple high-32 keys."""
    from fintech_lakehouse_spark.sources.deletionvectors import (
        decode_roaring_bitmap_array,
        encode_roaring_bitmap_array,
    )

    shapes = [
        [],
        [0],
        [1, 3, 8, 65535],
        list(range(0, 10_000, 2)),          # bitmap container (5000 > 4096)
        list(range(65536, 65536 + 10)),     # second 16-bit chunk
        [0, (1 << 32) + 5, (7 << 32) + 123],  # multiple high-32 keys
        sorted(set(range(0, 200_000, 3)) | {(1 << 32) + i for i in range(5)}),
    ]
    for vals in shapes:
        enc = encode_roaring_bitmap_array(vals)
        assert decode_roaring_bitmap_array(enc) == sorted(set(vals))


def test_roaring_offset_headers_are_stream_relative():
    """ADVICE r10: RoaringFormatSpec offsets count from the cookie
    position (start of the 32-bit bitmap stream), not from the
    containers section — offset-honoring readers (ImmutableRoaring
    Bitmap, memory-mapped) seek by them. Walk the emitted buffer with
    an offset-HONORING parser and require it to reproduce the values."""
    import struct

    from fintech_lakehouse_spark.sources.deletionvectors import (
        encode_roaring_bitmap_array,
    )

    vals = sorted(
        set(range(0, 9000, 2))            # bitmap container in chunk 0
        | set(range(65536, 65536 + 50))   # array container in chunk 1
        | {(3 << 32) + 7}                 # second high-32 key
    )
    buf = encode_roaring_bitmap_array(vals)
    (n_bitmaps,) = struct.unpack_from("<q", buf, 4)
    assert n_bitmaps == 2
    pos = 12
    got = []
    for _ in range(n_bitmaps):
        (key,) = struct.unpack_from("<i", buf, pos)
        pos += 4
        stream_start = pos  # cookie position: offsets count from HERE
        (cookie,) = struct.unpack_from("<I", buf, pos)
        assert cookie == 12346  # SERIAL_COOKIE_NO_RUNCONTAINER
        (n_cont,) = struct.unpack_from("<I", buf, pos + 4)
        heads = [
            struct.unpack_from("<HH", buf, pos + 8 + 4 * i)
            for i in range(n_cont)
        ]
        offs = [
            struct.unpack_from("<I", buf, pos + 8 + 4 * n_cont + 4 * i)[0]
            for i in range(n_cont)
        ]
        end = pos + 8 + 8 * n_cont
        for (hk, card_m1), off in zip(heads, offs):
            card = card_m1 + 1
            at = stream_start + off  # SEEK BY THE HEADER, no scanning
            if card <= 4096:
                vs = struct.unpack_from(f"<{card}H", buf, at)
                got.extend((key << 32) | (hk << 16) | v for v in vs)
                end = max(end, at + 2 * card)
            else:
                words = struct.unpack_from("<1024Q", buf, at)
                for wi, w in enumerate(words):
                    while w:
                        low = w & -w
                        got.append(
                            (key << 32) | (hk << 16) | (wi << 6)
                            | (low.bit_length() - 1)
                        )
                        w ^= low
                end = max(end, at + 8192)
        pos = end
    assert sorted(got) == vals
    # and the first container of each stream starts right after the
    # headers: offset == 8 + 8 * n_cont
    (n0,) = struct.unpack_from("<I", buf, 12 + 4 + 4)
    (first_off,) = struct.unpack_from("<I", buf, 12 + 4 + 8 + 4 * n0)
    assert first_off == 8 + 8 * n0


def _mk_plain_table(spark, root: str, n: int = 200, files: int = 2) -> None:
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import write_delta_commit

    _os.makedirs(root, exist_ok=True)
    per = n // files
    for i in range(files):
        df = spark.createDataFrame(
            [(j, f"v{j % 7}") for j in range(i * per, (i + 1) * per)],
            "id long, v string",
        ).coalesce(1)
        write_delta_commit(spark, df, root)


def test_dv_delete_matches_copy_on_write(spark, tmp_path):
    """The done-criterion unit: DV-delete survivor set ≡ the CoW DELETE
    result on an identical table; data files untouched on disk; the
    protocol upgraded to readerFeatures=[deletionVectors]."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        read_delta_table,
    )

    root_dv = str(tmp_path / "dv")
    root_cow = str(tmp_path / "cow")
    _mk_plain_table(spark, root_dv)
    _mk_plain_table(spark, root_cow)
    files_before = sorted(delta_snapshot(spark, root_dv).files)
    mtimes = {
        rel: _os.path.getmtime(_os.path.join(root_dv, rel))
        for rel in files_before
    }
    v = delete_from_delta_table(
        spark, root_dv, "id % 3 = 0", use_deletion_vectors=True
    )
    delete_from_delta_table(spark, root_cow, "id % 3 = 0")
    got_dv = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root_dv).collect()
    )
    got_cow = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root_cow).collect()
    )
    assert got_dv == got_cow
    assert got_dv == [
        (i, f"v{i % 7}") for i in range(200) if i % 3 != 0
    ]
    snap = delta_snapshot(spark, root_dv)
    assert snap.version == v
    # same physical files, untouched, now DV-carrying
    assert sorted(snap.files) == files_before
    for rel in files_before:
        assert _os.path.getmtime(_os.path.join(root_dv, rel)) == mtimes[rel]
    assert set(snap.deletion_vectors) == set(files_before)
    assert "deletionVectors" in (snap.protocol_raw.get("readerFeatures") or [])
    assert snap.protocol_raw["minReaderVersion"] == 3


def test_dv_delete_twice_unions_and_packs_file(spark, tmp_path):
    """A second DV-delete must UNION into the file's descriptor (the
    protocol replaces a file's DV wholesale); a large index set packs
    into an on-disk DV file (storageType 'u') that decodes back."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        read_delta_table,
    )

    root = str(tmp_path / "dv2")
    _mk_plain_table(spark, root, n=20_000, files=2)
    delete_from_delta_table(spark, root, "id % 2 = 0",
                            use_deletion_vectors=True)
    assert read_delta_table(spark, root).count() == 10_000
    delete_from_delta_table(spark, root, "id % 3 = 0",
                            use_deletion_vectors=True)
    got = {r["id"] for r in read_delta_table(spark, root).collect()}
    want = {i for i in range(20_000) if i % 2 and i % 3}
    assert got == want
    snap = delta_snapshot(spark, root)
    # 10k deleted rows per wave → bitmap >1 KiB → packed file form
    kinds = {dv["storageType"] for dv in snap.deletion_vectors.values()}
    assert kinds == {"u"}
    bins = [n for n in _os.listdir(root)
            if n.startswith("deletion_vector_") and n.endswith(".bin")]
    assert bins  # the packed DV file exists on disk


def test_dv_delete_inline_for_small_sets_and_empty_match(spark, tmp_path):
    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        read_delta_table,
    )

    root = str(tmp_path / "dv3")
    _mk_plain_table(spark, root, n=100, files=1)
    v0 = delta_snapshot(spark, root).version
    # empty match commits nothing
    assert delete_from_delta_table(
        spark, root, "id = -1", use_deletion_vectors=True
    ) == v0
    v = delete_from_delta_table(
        spark, root, "id IN (3, 7)", use_deletion_vectors=True
    )
    assert v == v0 + 1
    snap = delta_snapshot(spark, root)
    (dv,) = snap.deletion_vectors.values()
    assert dv["storageType"] == "i" and dv["cardinality"] == 2
    assert read_delta_table(spark, root).count() == 98
    # deleting an ALREADY-deleted row is a no-op commit-wise
    assert delete_from_delta_table(
        spark, root, "id = 3", use_deletion_vectors=True
    ) == v


def test_dv_update_matches_copy_on_write(spark, tmp_path):
    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_table,
        update_delta_table,
    )

    root_dv = str(tmp_path / "udv")
    root_cow = str(tmp_path / "ucow")
    _mk_plain_table(spark, root_dv)
    _mk_plain_table(spark, root_cow)
    update_delta_table(
        spark, root_dv, "id < 50", {"v": "concat(v, '!')", "id": "id + 1000"},
        use_deletion_vectors=True,
    )
    update_delta_table(
        spark, root_cow, "id < 50", {"v": "concat(v, '!')", "id": "id + 1000"},
    )
    got_dv = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root_dv).collect()
    )
    got_cow = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root_cow).collect()
    )
    assert got_dv == got_cow
    assert (1000, "v0!") in got_dv and (0, "v0") not in got_dv
    # the DV table added a new file for the updated images and kept the
    # original files live under descriptors
    snap = delta_snapshot(spark, root_dv)
    assert len(snap.files) == 3 and len(snap.deletion_vectors) == 1


def test_optimize_compacts_dv_table_and_vacuum_reclaims(spark, tmp_path):
    """OPTIMIZE on a DV-carrying table rewrites the survivors into
    clean files (no descriptors left); vacuum then reclaims both the
    tombstoned data files AND the orphaned on-disk DV file."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        optimize_delta_table,
        read_delta_table,
        vacuum_delta_table,
    )

    root = str(tmp_path / "odv")
    _mk_plain_table(spark, root, n=20_000, files=2)
    delete_from_delta_table(spark, root, "id % 2 = 0",
                            use_deletion_vectors=True)
    before = sorted(r["id"] for r in read_delta_table(spark, root).collect())
    optimize_delta_table(spark, root, target_files=2)
    snap = delta_snapshot(spark, root)
    assert not snap.deletion_vectors  # compacted clean
    after = sorted(r["id"] for r in read_delta_table(spark, root).collect())
    assert after == before
    gone = vacuum_delta_table(spark, root, keep_versions=1)
    assert any(n.startswith("deletion_vector_") for n in gone)
    assert not [
        n for n in _os.listdir(root)
        if n.startswith("deletion_vector_") and n.endswith(".bin")
    ]
    assert sorted(
        r["id"] for r in read_delta_table(spark, root).collect()
    ) == before


def test_make_dv_descriptor_roundtrip(tmp_path):
    from fintech_lakehouse_spark.sources.deletionvectors import (
        decode_deletion_vector,
        make_dv_descriptor,
    )

    root = str(tmp_path / "mkdv")
    os.makedirs(root)
    small = make_dv_descriptor(root, [5, 1, 9, 5])
    assert small["storageType"] == "i" and small["cardinality"] == 3
    assert decode_deletion_vector(root, small) == [1, 5, 9]
    big_rows = list(range(0, 60_000, 2))
    big = make_dv_descriptor(root, big_rows)
    assert big["storageType"] == "u"
    assert decode_deletion_vector(root, big) == big_rows


# ------------------------------------------------------------- r10:
# MERGE INTO against the real offline log (CoW + DV modes).


def test_merge_into_delta_table_cow_upsert(spark, tmp_path):
    """whenMatchedUpdateAll + whenNotMatchedInsertAll: matched keys
    take the source row wholesale, new keys insert, untouched files
    stay physically untouched, prior versions time-travel."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        merge_into_delta_table,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "mg")
    _os.makedirs(root)
    # two files: ids 0-4 and 100-104 — the source touches only file 1
    write_delta_commit(
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(5)],
                              "id long, v string").coalesce(1),
        root,
    )
    write_delta_commit(
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(100, 105)],
                              "id long, v string").coalesce(1),
        root,
    )
    untouched_rel = sorted(delta_snapshot(spark, root).files)[1]
    mtime = _os.path.getmtime(_os.path.join(root, untouched_rel))
    src = spark.createDataFrame(
        [(1, "UPDATED"), (3, "UPDATED"), (999, "INSERTED")],
        "id long, v string",
    )
    v = merge_into_delta_table(spark, root, src, ["id"])
    got = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    want = sorted(
        [(i, f"v{i}") for i in range(5) if i not in (1, 3)]
        + [(i, f"v{i}") for i in range(100, 105)]
        + [(1, "UPDATED"), (3, "UPDATED"), (999, "INSERTED")]
    )
    assert got == want
    # file 2 (ids 100-104, no matches) is physically untouched & live
    snap = delta_snapshot(spark, root)
    assert untouched_rel in snap.files
    assert _os.path.getmtime(_os.path.join(root, untouched_rel)) == mtime
    # time travel to the pre-merge version still works
    before = read_delta_table(spark, root, version=v - 1)
    assert before.count() == 10 and (1, "v1") in {
        (r["id"], r["v"]) for r in before.collect()
    }


def test_merge_into_delta_table_dv_mode_matches_cow(spark, tmp_path):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        merge_into_delta_table,
        read_delta_table,
        write_delta_commit,
    )

    src_rows = [(2, "U2"), (4, "U4"), (500, "NEW")]
    results = {}
    for mode, use_dv in (("cow", False), ("dv", True)):
        root = str(tmp_path / f"mg_{mode}")
        _os.makedirs(root)
        write_delta_commit(
            spark,
            spark.createDataFrame([(i, f"v{i}") for i in range(8)],
                                  "id long, v string").coalesce(1),
            root,
        )
        merge_into_delta_table(
            spark, root,
            spark.createDataFrame(src_rows, "id long, v string"),
            ["id"], use_deletion_vectors=use_dv,
        )
        results[mode] = sorted(
            (r["id"], r["v"])
            for r in read_delta_table(spark, root).collect()
        )
        if use_dv:
            snap = delta_snapshot(spark, root)
            assert snap.deletion_vectors  # matched rows DV'd in place
    assert results["cow"] == results["dv"]
    # a second DV merge over the same table unions correctly
    root = str(tmp_path / "mg_dv")
    merge_into_delta_table(
        spark, root,
        spark.createDataFrame([(2, "U2b"), (501, "NEW2")],
                              "id long, v string"),
        ["id"], use_deletion_vectors=True,
    )
    got = dict(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert got[2] == "U2b" and got[501] == "NEW2" and got[4] == "U4"
    assert len(got) == 10  # 8 original + 500 + 501


def test_merge_into_delta_table_null_keys_and_guards(spark, tmp_path):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        merge_into_delta_table,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "mgn")
    _os.makedirs(root)
    write_delta_commit(
        spark,
        spark.createDataFrame([(None, "nullrow"), (1, "one")],
                              "id long, v string").coalesce(1),
        root,
    )
    # null-safe: the NULL source key UPDATES the NULL-keyed row
    merge_into_delta_table(
        spark, root,
        spark.createDataFrame([(None, "nullrow2")], "id long, v string"),
        ["id"],
    )
    got = {
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    }
    assert got == {(None, "nullrow2"), (1, "one")}
    # duplicate source keys refuse (MERGE cardinality)
    with pytest.raises(ValueError, match="duplicate source keys"):
        merge_into_delta_table(
            spark, root,
            spark.createDataFrame([(1, "a"), (1, "b")], "id long, v string"),
            ["id"],
        )
    # schema mismatch refuses
    with pytest.raises(ValueError, match="columns"):
        merge_into_delta_table(
            spark, root,
            spark.createDataFrame([(1,)], "id long"), ["id"],
        )
    # empty source commits nothing
    from fintech_lakehouse_spark.sources.deltalog import delta_snapshot

    v0 = delta_snapshot(spark, root).version
    assert merge_into_delta_table(
        spark, root,
        spark.createDataFrame([], "id long, v string"), ["id"],
    ) == v0


def test_lake_writers_route_through_real_delta_log(spark, tmp_path):
    """r10: write_lake_table / upsert_lake_table against a path holding
    a REAL _delta_log must go THROUGH the log (a bare parquet write
    leaves the replay stale or broken). Append, overwrite, and MERGE
    upsert all stay log-consistent and time-travelable."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_table,
        write_delta_commit,
    )
    from fintech_lakehouse_spark.sources.writers import (
        read_lake_table,
        upsert_lake_table,
        write_lake_table,
    )

    root = str(tmp_path / "route")
    _os.makedirs(root)
    write_delta_commit(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        root,
    )
    # append routes to a log commit
    write_lake_table(
        spark.createDataFrame([(3, "c")], "id long, v string"),
        root, mode="append",
    )
    assert delta_snapshot(spark, root).version == 1
    assert read_lake_table(spark, root).count() == 3
    # MERGE upsert routes to merge_into_delta_table
    upsert_lake_table(
        spark,
        spark.createDataFrame([(2, "B2"), (9, "i")], "id long, v string"),
        root, ["id"],
    )
    got = dict(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert got == {1: "a", 2: "B2", 3: "c", 9: "i"}
    # duplicate source rows dedupe by order_by before the MERGE
    upsert_lake_table(
        spark,
        spark.createDataFrame(
            [(9, "low"), (9, "HIGH")], "id long, v string"
        ),
        root, ["id"], order_by="v",
    )
    got = dict(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert got[9] == "low"  # 'low' > 'HIGH' lexicographically, desc
    # overwrite routes to a tombstoning commit; time travel still works
    write_lake_table(
        spark.createDataFrame([(42, "only")], "id long, v string"),
        root, mode="overwrite",
    )
    assert read_lake_table(spark, root).count() == 1
    v = delta_snapshot(spark, root).version
    assert read_delta_table(spark, root, version=v - 1).count() == 4


def test_upsert_partitioned_real_log_full_merge(spark, tmp_path):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        read_delta_table,
        write_delta_commit,
    )
    from fintech_lakehouse_spark.sources.writers import upsert_lake_table

    root = str(tmp_path / "routep")
    _os.makedirs(root)
    write_delta_commit(
        spark,
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "id long, v string, p string"
        ),
        root,
        partition_by=["p"],
    )
    upsert_lake_table(
        spark,
        spark.createDataFrame(
            [(2, "B2", "y"), (7, "n", "z")], "id long, v string, p string"
        ),
        root, ["id"], partition_by=["p"],
    )
    got = sorted(
        (r["id"], r["v"], r["p"])
        for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, "a", "x"), (2, "B2", "y"), (7, "n", "z")]


# ------------------------------------------------------------- r10b:
# timestamp time travel, CHECK constraints, multi-part checkpoint
# WRITE, commitInfo operations.


def test_timestamp_time_travel(spark, tmp_path):
    """timestampAsOf: versions resolve by commitInfo.timestamp (file
    mtime fallback); a timestamp before the first commit refuses."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        commit_timestamps,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "tt")
    _os.makedirs(root)
    write_delta_commit(
        spark, spark.createDataFrame([(1,)], "id long"), root
    )
    write_delta_commit(
        spark, spark.createDataFrame([(2,)], "id long"), root
    )
    stamps = commit_timestamps(root)
    assert set(stamps) == {0, 1} and stamps[0] <= stamps[1]
    # pin distinct timestamps (same-ms commits are legal; the test
    # needs distinguishable instants)
    log = _os.path.join(root, "_delta_log")
    import json as _json

    for v, ts in ((0, 1_700_000_000_000), (1, 1_700_000_100_000)):
        f = _os.path.join(log, f"{v:020d}.json")
        lines = open(f).read().strip().split("\n")
        out = []
        for ln in lines:
            a = _json.loads(ln)
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
            out.append(_json.dumps(a))
        open(f, "w").write("\n".join(out) + "\n")
    assert read_delta_table(
        spark, root, timestamp_ms=1_700_000_000_000
    ).count() == 1
    assert read_delta_table(
        spark, root, timestamp_ms=1_700_000_099_999
    ).count() == 1
    assert read_delta_table(
        spark, root, timestamp_ms=1_700_000_100_000
    ).count() == 2
    with pytest.raises(ValueError, match="no Delta commit"):
        read_delta_table(spark, root, timestamp_ms=1)
    with pytest.raises(ValueError, match="not both"):
        read_delta_table(spark, root, version=0, timestamp_ms=5)


def test_check_constraints_enforced_across_dml(spark, tmp_path):
    """ADD CONSTRAINT validates existing rows, bumps minWriterVersion
    to 3, and every write path through the bridge enforces it: append,
    UPDATE (CoW + DV), MERGE; NULL passes (SQL CHECK semantics);
    DROP CONSTRAINT lifts it."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        add_delta_constraint,
        delta_snapshot,
        drop_delta_constraint,
        merge_into_delta_table,
        update_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "ck")
    _os.makedirs(root)
    write_delta_commit(
        spark,
        spark.createDataFrame([(1, 10), (2, None)], "id long, amt long"),
        root,
    )
    # existing violation refuses the ADD
    with pytest.raises(ValueError, match="existing row"):
        add_delta_constraint(spark, root, "amt_big", "amt > 100")
    add_delta_constraint(spark, root, "amt_pos", "amt > 0")
    snap = delta_snapshot(spark, root)
    assert snap.protocol_raw["minWriterVersion"] >= 3
    with pytest.raises(ValueError, match="already exists"):
        add_delta_constraint(spark, root, "amt_pos", "amt > 0")
    # append enforcement (NULL passes)
    write_delta_commit(
        spark,
        spark.createDataFrame([(3, 5), (4, None)], "id long, amt long"),
        root,
    )
    with pytest.raises(ValueError, match="amt_pos"):
        write_delta_commit(
            spark,
            spark.createDataFrame([(5, -1)], "id long, amt long"),
            root,
        )
    # UPDATE enforcement, CoW and DV
    with pytest.raises(ValueError, match="amt_pos"):
        update_delta_table(spark, root, "id = 1", {"amt": "-5"})
    with pytest.raises(ValueError, match="amt_pos"):
        update_delta_table(
            spark, root, "id = 1", {"amt": "-5"}, use_deletion_vectors=True
        )
    # MERGE enforcement
    with pytest.raises(ValueError, match="amt_pos"):
        merge_into_delta_table(
            spark, root,
            spark.createDataFrame([(9, -3)], "id long, amt long"), ["id"],
        )
    # DROP lifts it
    drop_delta_constraint(spark, root, "amt_pos")
    write_delta_commit(
        spark, spark.createDataFrame([(6, -9)], "id long, amt long"), root
    )
    with pytest.raises(ValueError, match="does not exist"):
        drop_delta_constraint(spark, root, "nope")


def test_multipart_checkpoint_write_roundtrip(spark, tmp_path):
    """parts>1 writes the protocol's <v>.checkpoint.<i>.<n>.parquet
    set; the existing reader replays it after expire_delta_log."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        checkpoint_delta_table,
        expire_delta_log,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "mpc")
    _os.makedirs(root)
    for i in range(4):
        write_delta_commit(
            spark,
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            root,
        )
    v = checkpoint_delta_table(spark, root, parts=3)
    names = sorted(_os.listdir(_os.path.join(root, "_delta_log")))
    parts = [n for n in names if ".checkpoint." in n]
    assert parts == [
        f"{v:020d}.checkpoint.{i + 1:010d}.{3:010d}.parquet"
        for i in range(3)
    ]
    expire_delta_log(spark, root)
    got = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert got == [(i, f"v{i}") for i in range(4)]
    # appends continue on top
    write_delta_commit(
        spark,
        spark.createDataFrame([(9, "v9")], "id long, v string"),
        root,
    )
    assert read_delta_table(spark, root).count() == 5


def test_commit_info_operations_recorded(spark, tmp_path):
    import json as _json
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        optimize_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "ci")
    _os.makedirs(root)
    write_delta_commit(
        spark, spark.createDataFrame([(1,), (2,)], "id long"), root
    )
    delete_from_delta_table(spark, root, "id = 1")
    optimize_delta_table(spark, root, target_files=1)
    ops = []
    log = _os.path.join(root, "_delta_log")
    for name in sorted(n for n in _os.listdir(log) if n.endswith(".json")):
        with open(_os.path.join(log, name)) as fh:
            for ln in fh:
                a = _json.loads(ln)
                if "commitInfo" in a:
                    ops.append(a["commitInfo"]["operation"])
                    assert a["commitInfo"]["timestamp"] > 0
    assert ops == ["WRITE", "DELETE", "OPTIMIZE"]


# ------------------------------------------------------------- r10c:
# CHANGE DATA FEED on the real log.


def _cdf_rows(spark, root, lo, hi=None):
    from fintech_lakehouse_spark.sources.deltalog import read_delta_changes

    df = read_delta_changes(spark, root, lo, hi)
    return sorted(
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in df.collect()
    )


def test_change_data_feed_end_to_end(spark, tmp_path):
    """enable → append (synthesized inserts) → CoW DELETE (cdc files)
    → UPDATE (pre+post images) → OPTIMIZE (no changes) → overwrite
    (synthesized deletes+inserts); range and metadata columns exact."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        cdf_enabled,
        delete_from_delta_table,
        delta_snapshot,
        enable_change_data_feed,
        optimize_delta_table,
        read_delta_changes,
        update_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "cdf")
    _os.makedirs(root)
    write_delta_commit(  # v0 (pre-CDF)
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        root,
    )
    v_en = enable_change_data_feed(spark, root)  # v1
    snap = delta_snapshot(spark, root)
    assert cdf_enabled(snap.metadata_raw)
    assert snap.protocol_raw["minWriterVersion"] >= 4
    assert enable_change_data_feed(spark, root) == v_en  # idempotent
    write_delta_commit(  # v2: append → synthesized inserts
        spark,
        spark.createDataFrame([(3, "c"), (4, "d")], "id long, v string"),
        root,
    )
    delete_from_delta_table(spark, root, "id = 1")  # v3: cdc delete
    update_delta_table(spark, root, "id = 2", {"v": "'B'"})  # v4
    optimize_delta_table(spark, root, target_files=1)  # v5: no changes
    assert _cdf_rows(spark, root, 2, 2) == [
        (3, "c", "insert", 2),
        (4, "d", "insert", 2),
    ]
    assert _cdf_rows(spark, root, 3, 3) == [(1, "a", "delete", 3)]
    assert _cdf_rows(spark, root, 4, 4) == sorted([
        (2, "b", "update_preimage", 4),
        (2, "B", "update_postimage", 4),
    ])
    assert _cdf_rows(spark, root, 5, 5) == []
    # the cdc files physically live under _change_data/
    assert _os.path.isdir(_os.path.join(root, "_change_data"))
    # full range 2..5 unions correctly
    assert len(_cdf_rows(spark, root, 2, 5)) == 5
    # overwrite: synthesized deletes (prev snapshot) + inserts
    write_delta_commit(  # v6
        spark,
        spark.createDataFrame([(9, "z")], "id long, v string"),
        root,
        mode="overwrite",
    )
    got = _cdf_rows(spark, root, 6, 6)
    assert (9, "z", "insert", 6) in got
    deletes = {(i, v) for i, v, t, _ in got if t == "delete"}
    assert deletes == {(2, "B"), (3, "c"), (4, "d")}
    # _commit_timestamp is a real timestamp column
    ts = read_delta_changes(spark, root, 6, 6).select(
        "_commit_timestamp"
    ).first()[0]
    assert ts.year >= 2024


def test_change_data_feed_dv_and_merge(spark, tmp_path):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        enable_change_data_feed,
        merge_into_delta_table,
        update_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "cdfdv")
    _os.makedirs(root)
    write_delta_commit(  # v0
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, v string"
        ),
        root,
    )
    enable_change_data_feed(spark, root)  # v1
    delete_from_delta_table(  # v2: DV delete
        spark, root, "id IN (0, 5)", use_deletion_vectors=True
    )
    assert _cdf_rows(spark, root, 2, 2) == [
        (0, "v0", "delete", 2),
        (5, "v5", "delete", 2),
    ]
    update_delta_table(  # v3: DV update
        spark, root, "id = 1", {"v": "'ONE'"}, use_deletion_vectors=True
    )
    assert _cdf_rows(spark, root, 3, 3) == sorted([
        (1, "v1", "update_preimage", 3),
        (1, "ONE", "update_postimage", 3),
    ])
    merge_into_delta_table(  # v4: DV merge — update id=2, insert id=77
        spark, root,
        spark.createDataFrame([(2, "TWO"), (77, "new")],
                              "id long, v string"),
        ["id"], use_deletion_vectors=True,
    )
    assert _cdf_rows(spark, root, 4, 4) == sorted([
        (2, "v2", "update_preimage", 4),
        (2, "TWO", "update_postimage", 4),
        (77, "new", "insert", 4),
    ])
    # CoW merge on a second table produces the same feed shape
    root2 = str(tmp_path / "cdfm2")
    _os.makedirs(root2)
    write_delta_commit(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        root2,
    )
    enable_change_data_feed(spark, root2)
    merge_into_delta_table(
        spark, root2,
        spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"),
        ["id"],
    )
    assert _cdf_rows(spark, root2, 2, 2) == sorted([
        (2, "b", "update_preimage", 2),
        (2, "B", "update_postimage", 2),
        (3, "c", "insert", 2),
    ])


def test_change_data_feed_guards(spark, tmp_path):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        enable_change_data_feed,
        read_delta_changes,
        write_delta_commit,
    )

    root = str(tmp_path / "cdfg")
    _os.makedirs(root)
    write_delta_commit(
        spark, spark.createDataFrame([(1, "a")], "id long, v string"), root
    )
    # not enabled at from_version → refuse
    with pytest.raises(ValueError, match="not enabled"):
        read_delta_changes(spark, root, 0)
    enable_change_data_feed(spark, root)
    with pytest.raises(ValueError, match="not enabled"):
        read_delta_changes(spark, root, 0)  # v0 predates the flag
    assert read_delta_changes(spark, root, 1).count() == 0
    with pytest.raises(ValueError, match="from_version"):
        read_delta_changes(spark, root, 5, 2)


def test_restore_delta_table(spark, tmp_path):
    """RESTORE to an earlier version: the live set equals the target
    snapshot (incl. DV state), history is preserved (restore is a
    normal commit), vacuumed targets refuse."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        read_delta_table,
        restore_delta_table,
        vacuum_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "rst")
    _os.makedirs(root)
    write_delta_commit(  # v0: ids 0-4
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(5)],
                              "id long, v string").coalesce(1),
        root,
    )
    write_delta_commit(  # v1: +ids 10-12
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(10, 13)],
                              "id long, v string").coalesce(1),
        root,
    )
    delete_from_delta_table(  # v2: DV-delete id 0
        spark, root, "id = 0", use_deletion_vectors=True
    )
    assert read_delta_table(spark, root).count() == 7
    # restore to v1 (before the delete): id 0 returns, DV state gone
    v = restore_delta_table(spark, root, version=1)
    assert v == 3
    assert read_delta_table(spark, root).count() == 8
    assert not delta_snapshot(spark, root).deletion_vectors
    # restore to v0: the v1 file is removed
    restore_delta_table(spark, root, version=0)
    got = sorted(r["id"] for r in read_delta_table(spark, root).collect())
    assert got == [0, 1, 2, 3, 4]
    # restore FORWARD to v2 (re-applying the DV delete)
    restore_delta_table(spark, root, version=2)
    got = sorted(r["id"] for r in read_delta_table(spark, root).collect())
    assert got == [1, 2, 3, 4, 10, 11, 12]
    # history intact: v1 still time-travels
    assert read_delta_table(spark, root, version=1).count() == 8
    # no-op restore commits nothing
    cur = delta_snapshot(spark, root).version
    assert restore_delta_table(spark, root, version=cur) == cur
    # overwrite tombstones everything, vacuum reclaims the old files →
    # restore to a version needing them refuses
    write_delta_commit(
        spark,
        spark.createDataFrame([(99, "z")], "id long, v string"),
        root,
        mode="overwrite",
    )
    vacuum_delta_table(spark, root, keep_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        restore_delta_table(spark, root, version=0)


# ------------------------------------------------------------- r10d:
# V2 checkpoint READ (manifest + sidecars).


def _v2_sidecar(spark, root, name, adds):
    """One sidecar parquet under _delta_log/_sidecars carrying ``adds``
    (list of table-relative data paths)."""
    import os as _os

    from pyspark.sql.types import (
        BooleanType, LongType, MapType, StringType, StructField,
        StructType,
    )

    schema = StructType([
        StructField("add", StructType([
            StructField("path", StringType(), True),
            StructField(
                "partitionValues", MapType(StringType(), StringType()), True
            ),
            StructField("size", LongType(), True),
            StructField("modificationTime", LongType(), True),
            StructField("dataChange", BooleanType(), True),
        ]), True),
    ])
    rows = [((rel, {}, 1, 0, True),) for rel in adds]
    side_dir = _os.path.join(root, "_delta_log", "_sidecars")
    _os.makedirs(side_dir, exist_ok=True)
    stage = _os.path.join(root, "_stage_sc")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    part = next(n for n in _os.listdir(stage) if n.endswith(".parquet"))
    _os.replace(_os.path.join(stage, part), _os.path.join(side_dir, name))
    import shutil

    shutil.rmtree(stage)


def _v2_manifest_json(root, version, uniq, sidecars, cm_version=None):
    import os as _os

    lines = [
        json.dumps({"checkpointMetadata": {
            "version": cm_version if cm_version is not None else version
        }}),
        json.dumps({
            "protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }
        }),
        json.dumps(_meta()),
    ]
    for sc in sidecars:
        lines.append(json.dumps({"sidecar": {
            "path": sc, "sizeInBytes": 1, "modificationTime": 0,
        }}))
    log = _os.path.join(root, "_delta_log")
    _os.makedirs(log, exist_ok=True)
    name = f"{version:020d}.checkpoint.{uniq}.json"
    with open(_os.path.join(log, name), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_v2_checkpoint_json_manifest_with_sidecars(spark, tmp_path):
    """A V2 checkpoint (json manifest + parquet sidecars) replays into
    the correct live set; later JSON commits apply on top; the
    v2Checkpoint readerFeature is accepted."""
    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_table,
    )

    root = str(tmp_path / "v2ck")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    _write_data_file(spark, root, "f2.parquet", [(2, "b")])
    _v2_sidecar(spark, root, "sc-001.parquet", ["f1.parquet"])
    _v2_sidecar(spark, root, "sc-002.parquet", ["f2.parquet"])
    _v2_manifest_json(
        root, 3, "a1b2c3d4", ["sc-001.parquet", "sc-002.parquet"]
    )
    snap = delta_snapshot(spark, root)
    assert snap.version == 3 and sorted(snap.files) == [
        "f1.parquet", "f2.parquet",
    ]
    got = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, "a"), (2, "b")]
    # a later commit applies on top of the v2 checkpoint
    _write_data_file(spark, root, "f3.parquet", [(3, "c")])
    _commit(root, 4, [_add("f3.parquet"), _remove("f1.parquet")])
    got = sorted(
        (r["id"], r["v"]) for r in read_delta_table(spark, root).collect()
    )
    assert got == [(2, "b"), (3, "c")]


def test_v2_checkpoint_parquet_manifest(spark, tmp_path):
    """The parquet-manifest form: checkpointMetadata/sidecar/protocol/
    metaData as one action per row."""
    import os as _os

    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, MapType, StringType,
        StructField, StructType,
    )

    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "v2ckp")
    _write_data_file(spark, root, "f1.parquet", [(7, "z")])
    _v2_sidecar(spark, root, "sc-p1.parquet", ["f1.parquet"])
    schema = StructType([
        StructField("checkpointMetadata", StructType([
            StructField("version", LongType(), True),
        ]), True),
        StructField("protocol", StructType([
            StructField("minReaderVersion", IntegerType(), True),
            StructField("minWriterVersion", IntegerType(), True),
            StructField("readerFeatures", ArrayType(StringType()), True),
            StructField("writerFeatures", ArrayType(StringType()), True),
        ]), True),
        StructField("metaData", StructType([
            StructField("id", StringType(), True),
            StructField("format", StructType([
                StructField("provider", StringType(), True),
                StructField(
                    "options", MapType(StringType(), StringType()), True
                ),
            ]), True),
            StructField("schemaString", StringType(), True),
            StructField("partitionColumns", ArrayType(StringType()), True),
            StructField(
                "configuration", MapType(StringType(), StringType()), True
            ),
        ]), True),
        StructField("sidecar", StructType([
            StructField("path", StringType(), True),
            StructField("sizeInBytes", LongType(), True),
        ]), True),
    ])
    rows = [
        ((2,), None, None, None),
        (None, (3, 7, ["v2Checkpoint"], ["v2Checkpoint"]), None, None),
        (None, None, ("idp", ("parquet", {}), SCHEMA_JSON, [], {}), None),
        (None, None, None, ("sc-p1.parquet", 1)),
    ]
    stage = _os.path.join(root, "_stage_m")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    part = next(n for n in _os.listdir(stage) if n.endswith(".parquet"))
    log = _os.path.join(root, "_delta_log")
    _os.makedirs(log, exist_ok=True)
    _os.replace(
        _os.path.join(stage, part),
        _os.path.join(log, "00000000000000000002.checkpoint.deadbeef.parquet"),
    )
    import shutil

    shutil.rmtree(stage)
    got = [(r["id"], r["v"]) for r in read_delta_table(spark, root).collect()]
    assert got == [(7, "z")]


def test_v2_checkpoint_fail_closed(spark, tmp_path):
    """Missing sidecar and checkpointMetadata version mismatch both
    refuse."""
    from fintech_lakehouse_spark.sources.deltalog import read_delta_table

    root = str(tmp_path / "v2bad")
    _write_data_file(spark, root, "f1.parquet", [(1, "a")])
    _v2_manifest_json(root, 1, "feedface", ["missing.parquet"])
    with pytest.raises(ValueError, match="sidecar"):
        read_delta_table(spark, root)

    root2 = str(tmp_path / "v2bad2")
    _write_data_file(spark, root2, "f1.parquet", [(1, "a")])
    _v2_sidecar(spark, root2, "sc.parquet", ["f1.parquet"])
    _v2_manifest_json(root2, 1, "feedface", ["sc.parquet"], cm_version=9)
    with pytest.raises(ValueError, match="checkpointMetadata"):
        read_delta_table(spark, root2)


def test_cdf_drives_incremental_aggregate(spark, tmp_path):
    """The CDF consumer pattern end-to-end on the REAL log: an
    incrementally-maintained SUM/COUNT per key, fed only by
    read_delta_changes deltas (insert +, delete −, update = pre− then
    post+), equals full recomputation after every commit — the IVM
    contract the streaming module pins against mocks, here against
    the bridge's own feed."""
    import os as _os

    from pyspark.sql import functions as F

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        enable_change_data_feed,
        merge_into_delta_table,
        read_delta_changes,
        read_delta_table,
        update_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "cdfivm")
    _os.makedirs(root)
    write_delta_commit(  # v0 (pre-CDF baseline the view starts from)
        spark,
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
            "id long, grp string, amt long",
        ),
        root,
    )
    enable_change_data_feed(spark, root)  # v1
    # materialize the view at v1
    view = {
        r["grp"]: (r["s"], r["n"])
        for r in read_delta_table(spark, root)
        .groupBy("grp")
        .agg(F.sum("amt").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    # a stream of DML across every change shape
    write_delta_commit(  # v2 insert
        spark,
        spark.createDataFrame([(4, "b", 40)], "id long, grp string, amt long"),
        root,
    )
    update_delta_table(spark, root, "id = 1", {"amt": "amt + 5"})  # v3
    delete_from_delta_table(  # v4, DV mode
        spark, root, "id = 2", use_deletion_vectors=True
    )
    merge_into_delta_table(  # v5: update id=3, insert id=9
        spark, root,
        spark.createDataFrame(
            [(3, "b", 300), (9, "c", 90)], "id long, grp string, amt long"
        ),
        ["id"], use_deletion_vectors=True,
    )
    last = delta_snapshot(spark, root).version
    changes = read_delta_changes(spark, root, 2, last).collect()
    for r in sorted(changes, key=lambda r: (r["_commit_version"],)):
        sign = 1 if r["_change_type"] in ("insert", "update_postimage") else -1
        s, n = view.get(r["grp"], (0, 0))
        view[r["grp"]] = (s + sign * r["amt"], n + sign)
    view = {g: sn for g, sn in view.items() if sn[1] > 0}
    full = {
        r["grp"]: (r["s"], r["n"])
        for r in read_delta_table(spark, root)
        .groupBy("grp")
        .agg(F.sum("amt").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert view == full == {"a": (15, 1), "b": (340, 2), "c": (90, 1)}


# ------------------------------------------------------------- r10e:
# add-action STATS + file-grain data skipping.


def test_add_actions_carry_stats_and_prune(spark, tmp_path):
    """Writers record numRecords/min/max/nullCount per file from the
    parquet footers; prune_delta_files drops exactly the files whose
    stats prove no match; skip_filters reads return identical rows to
    the unpruned filtered read while scanning fewer files."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        prune_delta_files,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "st")
    _os.makedirs(root)
    # three disjoint id ranges, one file each
    for lo in (0, 100, 200):
        write_delta_commit(
            spark,
            spark.createDataFrame(
                [(i, f"v{i}", None if i == lo else i * 10)
                 for i in range(lo, lo + 50)],
                "id long, v string, amt long",
            ).coalesce(1),
            root,
        )
    snap = delta_snapshot(spark, root)
    assert len(snap.files) == 3
    for rel, add in snap.adds_raw.items():
        st = _json.loads(add["stats"])
        assert st["numRecords"] == 50
        assert st["nullCount"]["amt"] == 1
        assert st["minValues"]["id"] % 100 == 0
        assert st["maxValues"]["id"] == st["minValues"]["id"] + 49
        assert st["minValues"]["v"].startswith("v")
    # prune: equality inside one range keeps exactly one file
    assert len(prune_delta_files(snap, [("id", "=", 120)])) == 1
    assert len(prune_delta_files(snap, [("id", ">=", 100)])) == 2
    assert len(prune_delta_files(snap, [("id", "<", 100)])) == 1
    assert len(prune_delta_files(snap, [("id", "=", 99)])) == 0
    # conjunct across columns; string stats participate too
    assert len(
        prune_delta_files(snap, [("id", ">=", 200), ("id", "<=", 210)])
    ) == 1
    # unknown column / null literal keep everything (sound)
    assert len(prune_delta_files(snap, [("nope", "=", 1)])) == 3
    assert len(prune_delta_files(snap, [("id", "=", None)])) == 3
    # the pruned read equals the unpruned filtered read, fewer files
    flt = (F.col("id") >= 100) & (F.col("id") < 150)
    full = read_delta_table(spark, root).filter(flt)
    pruned = read_delta_table(
        spark, root, skip_filters=[("id", ">=", 100), ("id", "<", 150)]
    ).filter(flt)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    n_files = pruned.select(
        F.input_file_name()
    ).distinct().count()
    assert n_files == 1


def test_partition_value_pruning(spark, tmp_path):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        prune_delta_files,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "stp")
    _os.makedirs(root)
    write_delta_commit(
        spark,
        spark.createDataFrame(
            [(1, 7, "a"), (2, 8, "b"), (3, None, "c")],
            "id long, d long, v string",
        ),
        root,
        partition_by=["d"],
    )
    snap = delta_snapshot(spark, root)
    assert len(snap.files) == 3
    assert len(prune_delta_files(snap, [("d", "=", 7)])) == 1
    assert len(prune_delta_files(snap, [("d", ">", 7)])) == 1
    # NULL partition value can never equal a literal
    assert len(prune_delta_files(snap, [("d", "<=", 99)])) == 2
    got = read_delta_table(
        spark, root, skip_filters=[("d", "=", 8)]
    ).collect()
    assert [(r["id"], r["d"], r["v"]) for r in got] == [(2, 8, "b")]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="prune op"):
        prune_delta_files(snap, [("d", "!=", 7)])


def test_boolean_partition_pruning(spark, tmp_path):
    """ADVICE r10 (medium): type(lit)(raw) coercion made
    bool("false") == True, so (flag, '=', False) pruned exactly the
    false-partition files. Coercion now goes through the TABLE SCHEMA
    column type; the False filter must keep the false file and return
    its rows."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        prune_delta_files,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "boolpart")
    _os.makedirs(root)
    write_delta_commit(
        spark,
        spark.createDataFrame(
            [(1, True, "t1"), (2, False, "f1"), (3, True, "t2")],
            "id long, flag boolean, v string",
        ).coalesce(1),
        root,
        partition_by=["flag"],
    )
    snap = delta_snapshot(spark, root)
    assert len(snap.files) == 2
    false_files = prune_delta_files(snap, [("flag", "=", False)])
    true_files = prune_delta_files(snap, [("flag", "=", True)])
    assert len(false_files) == 1 and len(true_files) == 1
    assert set(false_files) != set(true_files)
    got = read_delta_table(
        spark, root, skip_filters=[("flag", "=", False)]
    ).collect()
    assert sorted((r["id"], r["flag"]) for r in got) == [(2, False)]
    # unparseable literal for the column type keeps every file (sound)
    assert len(prune_delta_files(snap, [("flag", "=", "maybe")])) == 2


def test_date_partition_pruning_schema_coercion(spark, tmp_path):
    """Date partition values prune against BOTH datetime.date and
    ISO-string literals via schema-type coercion (pre-fix, a
    date literal hit type(lit)(raw) == date("2024-01-01") TypeError
    and never pruned; a string literal compared lexically by luck)."""
    import datetime as _dt
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        prune_delta_files,
        write_delta_commit,
    )

    root = str(tmp_path / "datepart")
    _os.makedirs(root)
    write_delta_commit(
        spark,
        spark.createDataFrame(
            [
                (1, _dt.date(2024, 1, 1)),
                (2, _dt.date(2024, 2, 1)),
            ],
            "id long, dt date",
        ),
        root,
        partition_by=["dt"],
    )
    snap = delta_snapshot(spark, root)
    assert len(snap.files) == 2
    assert (
        len(prune_delta_files(snap, [("dt", "=", _dt.date(2024, 1, 1))]))
        == 1
    )
    assert len(prune_delta_files(snap, [("dt", ">", "2024-01-15")])) == 1
    assert len(prune_delta_files(snap, [("dt", "<=", "2024-12-31")])) == 2


def test_append_schema_evolution_merge_schema(spark, tmp_path):
    """r10: merge_schema=True appends with NEW trailing columns —
    metaData widens (additions nullable), old files read back NULL for
    the new column; drops/renames/reorders still refuse; default stays
    fail-closed."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "evo")
    _os.makedirs(root)
    write_delta_commit(
        spark, spark.createDataFrame([(1, "a")], "id long, v string"), root
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        write_delta_commit(
            spark,
            spark.createDataFrame([(2, "b", 9)], "id long, v string, w long"),
            root,
        )
    write_delta_commit(
        spark,
        spark.createDataFrame([(2, "b", 9)], "id long, v string, w long"),
        root,
        merge_schema=True,
    )
    snap = delta_snapshot(spark, root)
    assert [f.name for f in snap.schema.fields] == ["id", "v", "w"]
    assert snap.schema["w"].nullable
    got = sorted(
        (r["id"], r["v"], r["w"])
        for r in read_delta_table(spark, root).collect()
    )
    assert got == [(1, "a", None), (2, "b", 9)]
    # the widened schema is now the contract for plain appends
    write_delta_commit(
        spark,
        spark.createDataFrame([(3, "c", 30)], "id long, v string, w long"),
        root,
    )
    assert read_delta_table(spark, root).count() == 3
    # reorders / missing columns refuse even with merge_schema
    with pytest.raises(ValueError, match="schema column mismatch"):
        write_delta_commit(
            spark,
            spark.createDataFrame([("x", 4, 1)], "v string, id long, w long"),
            root,
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="schema column mismatch"):
        write_delta_commit(
            spark,
            spark.createDataFrame([(5,)], "id long"),
            root,
            merge_schema=True,
        )


# ------------------------------------------------------------- r10f:
# PARTITIONED DML (delete/update/merge/optimize on partitioned tables).


def _mk_part_table(spark, root):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import write_delta_commit

    _os.makedirs(root, exist_ok=True)
    write_delta_commit(
        spark,
        spark.createDataFrame(
            [(i, "east" if i % 2 == 0 else "west", i * 10)
             for i in range(20)],
            "id long, region string, amt long",
        ),
        root,
        partition_by=["region"],
    )


def test_partitioned_cow_delete_and_update(spark, tmp_path):
    """DELETE/UPDATE on a partitioned table: predicates may reference
    the partition column (attached typed from the log, NOT read from
    files), untouched partitions keep their files, and an UPDATE that
    CHANGES the partition column moves its rows to the new partition
    dir."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        read_delta_table,
        update_delta_table,
    )

    root = str(tmp_path / "pd")
    _mk_part_table(spark, root)
    east_rels = {
        rel for rel, pv in delta_snapshot(spark, root).files.items()
        if pv["region"] == "east"
    }
    mtimes = {
        rel: _os.path.getmtime(_os.path.join(root, rel))
        for rel in east_rels
    }
    # predicate on the PARTITION column + a data column
    delete_from_delta_table(
        spark, root, "region = 'west' AND amt >= 150"
    )
    got = sorted(
        (r["id"], r["region"]) for r in read_delta_table(spark, root).collect()
    )
    assert got == sorted(
        [(i, "east") for i in range(0, 20, 2)]
        + [(i, "west") for i in range(1, 20, 2) if i * 10 < 150]
    )
    # east partition physically untouched
    snap = delta_snapshot(spark, root)
    for rel in east_rels:
        assert rel in snap.files
        assert _os.path.getmtime(_os.path.join(root, rel)) == mtimes[rel]
    # adds carry the right partitionValues
    assert all(
        pv["region"] in ("east", "west") for pv in snap.files.values()
    )
    # UPDATE that MOVES rows across partitions
    update_delta_table(
        spark, root, "region = 'west'", {"region": "'north'"}
    )
    regions = {
        pv["region"] for pv in delta_snapshot(spark, root).files.values()
    }
    assert "north" in regions and "west" not in regions
    got = {
        (r["id"], r["region"])
        for r in read_delta_table(spark, root).collect()
    }
    assert (1, "north") in got and not any(
        reg == "west" for _, reg in got
    )


def test_partitioned_dv_delete_and_merge(spark, tmp_path):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delete_from_delta_table,
        delta_snapshot,
        merge_into_delta_table,
        read_delta_table,
    )

    root = str(tmp_path / "pdv")
    _mk_part_table(spark, root)
    delete_from_delta_table(
        spark, root, "region = 'east' AND id < 6", use_deletion_vectors=True
    )
    snap = delta_snapshot(spark, root)
    # the DV re-add kept its partitionValues
    for rel in snap.deletion_vectors:
        assert snap.files[rel]["region"] == "east"
    got = sorted(r["id"] for r in read_delta_table(spark, root).collect())
    assert got == sorted(
        [i for i in range(20) if not (i % 2 == 0 and i < 6)]
    )
    # partitioned MERGE (DV mode — the table already carries DVs):
    # update one row per partition + insert a new-partition row
    merge_into_delta_table(
        spark, root,
        spark.createDataFrame(
            [(8, "east", 999), (9, "west", 888), (100, "north", 1)],
            "id long, region string, amt long",
        ),
        ["id"],
        use_deletion_vectors=True,
    )
    got = {
        (r["id"], r["region"], r["amt"])
        for r in read_delta_table(spark, root).collect()
    }
    assert (8, "east", 999) in got and (9, "west", 888) in got
    assert (100, "north", 1) in got
    snap = delta_snapshot(spark, root)
    assert {"east", "west", "north"} <= {
        pv["region"] for pv in snap.files.values()
    }


def test_partitioned_optimize_compacts_per_partition(spark, tmp_path):
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        delta_snapshot,
        optimize_delta_table,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "popt")
    _mk_part_table(spark, root)
    # a few more appends → several files per partition
    for _ in range(2):
        write_delta_commit(
            spark,
            spark.createDataFrame(
                [(100, "east", 1), (101, "west", 2)],
                "id long, region string, amt long",
            ),
            root,
            partition_by=["region"],
        )
    before = sorted(
        map(tuple, read_delta_table(spark, root).collect())
    )
    n_before = len(delta_snapshot(spark, root).files)
    optimize_delta_table(spark, root)
    snap = delta_snapshot(spark, root)
    assert len(snap.files) == 2 < n_before  # one file per partition
    assert {pv["region"] for pv in snap.files.values()} == {
        "east", "west",
    }
    after = sorted(map(tuple, read_delta_table(spark, root).collect()))
    assert after == before
    # per-partition ZORDER (r10): rows Morton-sorted WITHIN each
    # partition file, content unchanged, one file per partition
    optimize_delta_table(spark, root, zorder=["id", "amt"])
    snap = delta_snapshot(spark, root)
    assert len(snap.files) == 2
    again = sorted(map(tuple, read_delta_table(spark, root).collect()))
    assert again == before
    import pyarrow.parquet as _pq

    from fintech_lakehouse_spark.sources.writers import zorder_key

    for rel in snap.files:
        tbl = _pq.read_table(_os.path.join(root, rel)).to_pylist()
        ids = [r["id"] for r in tbl]
        # verify the within-file ordering follows the Morton key by
        # re-deriving it through Spark on the file's own rows
        df = spark.createDataFrame(
            [(r["id"], r["amt"]) for r in tbl], "id long, amt long"
        )
        zk = [
            r["_zk"]
            for r in df.withColumn(
                "_zk", zorder_key(df, ["id", "amt"])
            ).collect()
        ]
        order = {(r["id"], r["amt"]): k for r, k in zip(tbl, zk)}
        keys = [order[(r["id"], r["amt"])] for r in tbl]
        assert keys == sorted(keys), rel
    # zorder on a partition column refuses
    with pytest.raises(ValueError, match="partition columns"):
        optimize_delta_table(spark, root, zorder=["region"])


def test_concurrent_commit_conflict_fails_clean(spark, tmp_path):
    """r10: commit publication is put-if-absent (os.link) — a version
    another writer already committed raises DeltaConcurrentWriteError
    instead of silently clobbering their commit; the table stays
    consistent and a retry at the NEXT version succeeds."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        DeltaConcurrentWriteError,
        read_delta_table,
        write_delta_commit,
    )

    root = str(tmp_path / "ccw")
    _os.makedirs(root)
    write_delta_commit(
        spark, spark.createDataFrame([(1, "a")], "id long, v string"), root
    )
    # simulate another writer winning version 1
    log = _os.path.join(root, "_delta_log")
    foreign = _os.path.join(log, f"{1:020d}.json")
    with open(foreign, "w") as fh:
        fh.write(
            '{"add": {"path": "theirs.parquet", "partitionValues": {}, '
            '"size": 1, "modificationTime": 0, "dataChange": true}}\n'
        )
    # their data file must exist for reads to stay green
    import shutil

    # the single-row write stages one part file per task; pick the
    # NON-EMPTY one (r12: uuid-suffixed names shuffled listdir order)
    src = max(
        (n for n in _os.listdir(root) if n.endswith(".parquet")),
        key=lambda n: _os.path.getsize(_os.path.join(root, n)),
    )
    shutil.copy(_os.path.join(root, src), _os.path.join(root, "theirs.parquet"))
    # stale version computation happens inside write_delta_commit; the
    # file appearing between "compute next version" and "publish" is
    # the race — emulate by pre-creating the version our writer will
    # pick... which IS version 1 only if it doesn't see the foreign
    # commit. Force the race window by monkeypatching _commit_versions
    # to the pre-foreign view.
    from fintech_lakehouse_spark.sources import deltalog as dl

    real_versions = dl._commit_versions

    def stale_versions(log_dir):
        return [v for v in real_versions(log_dir) if v == 0]

    dl._commit_versions = stale_versions
    try:
        # r12: a stale blind append REBASES — but the monkeypatched
        # version view never advances, so the retry budget exhausts
        # with a clean conflict error (and zero clobbered files)
        with pytest.raises(DeltaConcurrentWriteError, match="version 1"):
            write_delta_commit(
                spark,
                spark.createDataFrame([(2, "b")], "id long, v string"),
                root,
            )
    finally:
        dl._commit_versions = real_versions
    # the foreign commit survives untouched and the table reads fine
    assert _os.path.getsize(foreign) > 0
    assert read_delta_table(spark, root).count() == 2  # (1,a) + theirs
    # a NON-racing retry succeeds at version 2
    v = write_delta_commit(
        spark, spark.createDataFrame([(2, "b")], "id long, v string"), root
    )
    assert v == 2
    assert read_delta_table(spark, root).count() == 3


class TestGeneratedColumns:
    """r11: Delta GENERATED COLUMNS across the offline writer — the
    protocol writer feature (delta.generationExpression field
    metadata, legacy gate minWriterVersion 4). Contract: declared at
    creation; every write computes missing / validates provided;
    UPDATE recomputes post-assignment and refuses direct SET; MERGE
    computes/validates source rows."""

    @staticmethod
    def _create(spark, root):
        import os as _os

        from fintech_lakehouse_spark.sources.deltalog import (
            write_delta_commit,
        )

        _os.makedirs(root, exist_ok=True)
        write_delta_commit(
            spark,
            spark.createDataFrame(
                [(1, 10, 3), (2, 20, 2)], "id long, price long, qty long"
            ).coalesce(1),
            root,
            generated_columns_spec={"total": "price * qty"},
        )

    def test_create_computes_and_gates_protocol(self, spark, tmp_path):
        from fintech_lakehouse_spark.sources.deltalog import (
            delta_snapshot,
            generated_columns,
            read_delta_table,
        )

        root = str(tmp_path / "gc")
        self._create(spark, root)
        snap = delta_snapshot(spark, root)
        assert generated_columns(snap.schema) == {"total": "price * qty"}
        assert int(snap.protocol_raw["minWriterVersion"]) >= 4
        got = sorted(
            (r["id"], r["total"])
            for r in read_delta_table(spark, root).collect()
        )
        assert got == [(1, 30), (2, 40)]

    def test_append_computes_missing_and_validates_provided(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            read_delta_table,
            write_delta_commit,
        )

        root = str(tmp_path / "gc2")
        self._create(spark, root)
        # missing generated column → computed
        write_delta_commit(
            spark,
            spark.createDataFrame(
                [(3, 5, 4)], "id long, price long, qty long"
            ).coalesce(1),
            root,
        )
        got = {
            r["id"]: r["total"]
            for r in read_delta_table(spark, root).collect()
        }
        assert got[3] == 20
        # provided-but-wrong → refuse; provided-correct → accepted
        with _pytest.raises(ValueError, match="generated column 'total'"):
            write_delta_commit(
                spark,
                spark.createDataFrame(
                    [(4, 5, 4, 999)],
                    "id long, price long, qty long, total long",
                ).coalesce(1),
                root,
            )
        write_delta_commit(
            spark,
            spark.createDataFrame(
                [(4, 5, 4, 20)], "id long, price long, qty long, total long"
            ).coalesce(1),
            root,
        )
        got = {
            r["id"]: r["total"]
            for r in read_delta_table(spark, root).collect()
        }
        assert got[4] == 20 and len(got) == 4

    def test_declare_on_existing_table_refused(self, spark, tmp_path):
        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            write_delta_commit,
        )

        root = str(tmp_path / "gc3")
        self._create(spark, root)
        with _pytest.raises(ValueError, match="CREATION only"):
            write_delta_commit(
                spark,
                spark.createDataFrame(
                    [(9, 1, 1)], "id long, price long, qty long"
                ),
                root,
                generated_columns_spec={"twice": "id * 2"},
            )

    def test_update_recomputes_post_assignment(self, spark, tmp_path):
        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            read_delta_table,
            update_delta_table,
        )

        root = str(tmp_path / "gc4")
        self._create(spark, root)
        update_delta_table(
            spark, root, "id = 1", {"price": "price * 10"}
        )
        got = {
            r["id"]: (r["price"], r["total"])
            for r in read_delta_table(spark, root).collect()
        }
        # generated total reflects the POST-update price; untouched
        # row unchanged
        assert got[1] == (100, 300)
        assert got[2] == (20, 40)
        with _pytest.raises(ValueError, match="GENERATED ALWAYS AS"):
            update_delta_table(spark, root, "id = 2", {"total": "1"})

    def test_update_with_dv_recomputes(self, spark, tmp_path):
        from fintech_lakehouse_spark.sources.deltalog import (
            read_delta_table,
            update_delta_table,
        )

        root = str(tmp_path / "gc5")
        self._create(spark, root)
        update_delta_table(
            spark, root, "id = 2", {"qty": "qty + 8"},
            use_deletion_vectors=True,
        )
        got = {
            r["id"]: (r["qty"], r["total"])
            for r in read_delta_table(spark, root).collect()
        }
        assert got[2] == (10, 200)
        assert got[1] == (3, 30)

    def test_merge_computes_and_validates_source(self, spark, tmp_path):
        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            merge_into_delta_table,
            read_delta_table,
        )

        root = str(tmp_path / "gc6")
        self._create(spark, root)
        # source WITHOUT the generated column: computed
        merge_into_delta_table(
            spark,
            root,
            spark.createDataFrame(
                [(2, 7, 7), (5, 2, 6)], "id long, price long, qty long"
            ),
            ["id"],
        )
        got = {
            r["id"]: r["total"]
            for r in read_delta_table(spark, root).collect()
        }
        assert got == {1: 30, 2: 49, 5: 12}
        # source WITH a wrong generated value: refused
        with _pytest.raises(ValueError, match="generated column 'total'"):
            merge_into_delta_table(
                spark,
                root,
                spark.createDataFrame(
                    [(6, 1, 1, 777)],
                    "id long, price long, qty long, total long",
                ),
                ["id"],
            )


class TestIdentityColumns:
    """r11: Delta IDENTITY COLUMNS (legacy gate minWriterVersion 6 —
    delta.identity.* field metadata). Contract: declared at creation;
    writes missing the column get values continuing past the stored
    high-water mark (advanced in the SAME commit's metaData); explicit
    values refused unless allowExplicitInsert; UPDATE cannot SET;
    MERGE fails closed."""

    @staticmethod
    def _create(spark, root, **kw):
        import os as _os

        from fintech_lakehouse_spark.sources.deltalog import (
            write_delta_commit,
        )

        _os.makedirs(root, exist_ok=True)
        write_delta_commit(
            spark,
            spark.createDataFrame(
                [("a",), ("b",), ("c",)], "v string"
            ).coalesce(1),
            root,
            identity_spec={"id": dict(start=10, step=2, **kw)},
        )

    def test_create_assigns_and_records_hwm(self, spark, tmp_path):
        from fintech_lakehouse_spark.sources.deltalog import (
            delta_snapshot,
            identity_columns,
            read_delta_table,
        )

        root = str(tmp_path / "idc")
        self._create(spark, root)
        snap = delta_snapshot(spark, root)
        assert int(snap.protocol_raw["minWriterVersion"]) >= 6
        spec = identity_columns(snap.schema)["id"]
        assert (spec["start"], spec["step"]) == (10, 2)
        assert spec["high_water_mark"] == 14  # 10, 12, 14
        got = sorted(
            (r["v"], r["id"]) for r in read_delta_table(spark, root).collect()
        )
        assert [i for _, i in got] == [10, 12, 14]

    def test_append_continues_past_hwm(self, spark, tmp_path):
        from fintech_lakehouse_spark.sources.deltalog import (
            delta_snapshot,
            identity_columns,
            read_delta_table,
            write_delta_commit,
        )

        root = str(tmp_path / "idc2")
        self._create(spark, root)
        write_delta_commit(
            spark,
            spark.createDataFrame([("d",), ("e",)], "v string").coalesce(1),
            root,
        )
        ids = sorted(
            r["id"] for r in read_delta_table(spark, root).collect()
        )
        assert ids == [10, 12, 14, 16, 18]  # unique, monotone past HWM
        assert (
            identity_columns(delta_snapshot(spark, root).schema)["id"][
                "high_water_mark"
            ]
            == 18
        )

    def test_ids_unique_across_partitions_and_appends(self, spark, tmp_path):
        """A range-partitioned input gets one id per row, the committed
        high-water mark is the largest written id, and the appends after
        it reuse none of them."""
        from fintech_lakehouse_spark.sources.deltalog import (
            delta_snapshot,
            identity_columns,
            read_delta_table,
            write_delta_commit,
        )

        def frame(n, tag):
            return spark.range(n).selectExpr(
                f"format_string('{tag}%05d', (id * 7919) % {n}) AS v", "id AS x"
            ).repartitionByRange(5, "v")

        root = str(tmp_path / "idc_parts")
        for i, tag in enumerate("abc"):
            write_delta_commit(
                spark, frame(3000, tag), root,
                identity_spec=None if i else {"id": dict(start=10, step=2)},
            )
            got = read_delta_table(spark, root).agg(
                F.count("*").alias("n"),
                F.countDistinct("id").alias("d"),
                F.max("id").alias("hi"),
            ).collect()[0]
            assert got["n"] == got["d"] == 3000 * (i + 1)
            hwm = identity_columns(delta_snapshot(spark, root).schema)["id"][
                "high_water_mark"
            ]
            assert hwm == got["hi"]

    def test_explicit_values_gated(self, spark, tmp_path):
        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            delta_snapshot,
            identity_columns,
            write_delta_commit,
        )

        root = str(tmp_path / "idc3")
        self._create(spark, root)
        with _pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
            write_delta_commit(
                spark,
                spark.createDataFrame([("x", 99)], "v string, id long"),
                root,
            )
        root2 = str(tmp_path / "idc4")
        self._create(spark, root2, allow_explicit=True)
        write_delta_commit(
            spark,
            spark.createDataFrame([("x", 99)], "v string, id long").coalesce(1),
            root2,
        )
        # explicit extreme absorbed into the high-water mark
        assert (
            identity_columns(delta_snapshot(spark, root2).schema)["id"][
                "high_water_mark"
            ]
            == 99
        )
        # next system assignment continues past it
        write_delta_commit(
            spark,
            spark.createDataFrame([("y",)], "v string").coalesce(1),
            root2,
        )
        assert (
            identity_columns(delta_snapshot(spark, root2).schema)["id"][
                "high_water_mark"
            ]
            == 101
        )

    def test_update_and_merge_guards(self, spark, tmp_path):
        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            merge_into_delta_table,
            update_delta_table,
        )

        root = str(tmp_path / "idc5")
        self._create(spark, root)
        with _pytest.raises(ValueError, match="IDENTITY"):
            update_delta_table(spark, root, "v = 'a'", {"id": "1"})
        # non-identity updates still work and leave ids intact
        update_delta_table(spark, root, "v = 'a'", {"v": "'z'"})
        with _pytest.raises(NotImplementedError, match="IDENTITY"):
            merge_into_delta_table(
                spark,
                root,
                spark.createDataFrame([("q", 1)], "v string, id long"),
                ["id"],
            )


class TestInCommitTimestamps:
    """r11: in-commit timestamps (table-features protocol form) — the
    enabling commit upgrades to minWriterVersion 7 with an explicit
    writerFeatures list, every later commit carries a MONOTONE
    inCommitTimestamp, and timestamp time travel prefers ICT over the
    file mtimes that retention moves corrupt. Plus the v7 writer
    gates: unknown writerFeatures refuse, delta.appendOnly forbids
    remove-generating ops."""

    def test_enable_then_monotone_icts_and_time_travel(
        self, spark, tmp_path
    ):
        import json as _json
        import os as _os

        from fintech_lakehouse_spark.sources.deltalog import (
            delta_snapshot,
            enable_in_commit_timestamps,
            read_delta_table,
            write_delta_commit,
        )

        root = str(tmp_path / "ict")
        _os.makedirs(root)
        write_delta_commit(
            spark,
            spark.createDataFrame([(1,)], "id long").coalesce(1),
            root,
        )
        v = enable_in_commit_timestamps(spark, root)
        assert v == 1
        assert enable_in_commit_timestamps(spark, root) == 1  # idempotent
        snap = delta_snapshot(spark, root)
        proto = snap.protocol_raw
        assert int(proto["minWriterVersion"]) == 7
        assert "inCommitTimestamp" in proto["writerFeatures"]
        # legacy v2 implied features enumerated per the spec
        assert {"appendOnly", "invariants"} <= set(proto["writerFeatures"])
        conf = snap.metadata_raw["configuration"]
        assert conf["delta.enableInCommitTimestamps"] == "true"
        assert conf["delta.inCommitTimestampEnablementVersion"] == "1"
        # subsequent commits carry monotone ICTs without being told
        write_delta_commit(
            spark, spark.createDataFrame([(2,)], "id long").coalesce(1), root
        )
        write_delta_commit(
            spark, spark.createDataFrame([(3,)], "id long").coalesce(1), root
        )
        icts = []
        for ver in (1, 2, 3):
            with open(
                _os.path.join(root, "_delta_log", f"{ver:020d}.json")
            ) as fh:
                first = _json.loads(fh.readline())
            assert "commitInfo" in first  # ICT commitInfo is FIRST
            icts.append(int(first["commitInfo"]["inCommitTimestamp"]))
        assert icts[0] < icts[1] < icts[2]
        # timestamp time travel resolves by ICT even when file mtimes
        # are shuffled (retention copies / clock skew)
        log = _os.path.join(root, "_delta_log")
        for ver in (0, 1, 2, 3):
            _os.utime(_os.path.join(log, f"{ver:020d}.json"), (1, 1))
        got = read_delta_table(spark, root, timestamp_ms=icts[1]).collect()
        assert sorted(r["id"] for r in got) == [1, 2]

    def test_unknown_writer_feature_refused(self, spark, tmp_path):
        import json as _json
        import os as _os

        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            write_delta_commit,
        )

        root = str(tmp_path / "wfx")
        _os.makedirs(root)
        write_delta_commit(
            spark,
            spark.createDataFrame([(1,)], "id long").coalesce(1),
            root,
        )
        log = _os.path.join(root, "_delta_log")
        with open(_os.path.join(log, f"{1:020d}.json"), "w") as fh:
            fh.write(
                _json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 7,
                            "writerFeatures": ["icebergCompatV2"],
                        }
                    }
                )
                + "\n"
            )
        with _pytest.raises(NotImplementedError, match="icebergCompatV2"):
            write_delta_commit(
                spark,
                spark.createDataFrame([(2,)], "id long").coalesce(1),
                root,
            )

    def test_append_only_forbids_removals(self, spark, tmp_path):
        import os as _os

        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            delete_from_delta_table,
            delta_snapshot,
            read_delta_table,
            update_delta_table,
            write_delta_commit,
            _next_version,
            _write_commit,
        )

        root = str(tmp_path / "ao")
        _os.makedirs(root)
        write_delta_commit(
            spark,
            spark.createDataFrame([(1,), (2,)], "id long").coalesce(1),
            root,
        )
        snap = delta_snapshot(spark, root)
        md = dict(snap.metadata_raw)
        md["configuration"] = {"delta.appendOnly": "true"}
        _write_commit(
            root, _next_version(root), [{"metaData": md}],
            operation="SET TBLPROPERTIES",
        )
        # appends still fine
        write_delta_commit(
            spark, spark.createDataFrame([(3,)], "id long").coalesce(1), root
        )
        assert read_delta_table(spark, root).count() == 3
        for opfn in (
            lambda: delete_from_delta_table(spark, root, "id = 1"),
            lambda: update_delta_table(spark, root, "id = 1", {"id": "9"}),
            lambda: write_delta_commit(
                spark,
                spark.createDataFrame([(9,)], "id long"),
                root,
                mode="overwrite",
            ),
        ):
            with _pytest.raises(ValueError, match="appendOnly"):
                opfn()


class TestShallowClone:
    """r11: SHALLOW CLONE — zero-copy table fork via absolute add
    paths. Clone reads equal the source; writes/DML stay local;
    VACUUM never deletes borrowed (source-owned) files."""

    @staticmethod
    def _src(spark, root):
        import os as _os

        from fintech_lakehouse_spark.sources.deltalog import (
            write_delta_commit,
        )

        _os.makedirs(root)
        for lo in (0, 3):
            write_delta_commit(
                spark,
                spark.createDataFrame(
                    [(i, f"v{i}") for i in range(lo, lo + 3)],
                    "id long, v string",
                ).coalesce(1),
                root,
            )

    def test_clone_reads_equal_source_and_diverges(self, spark, tmp_path):
        from fintech_lakehouse_spark.sources.deltalog import (
            delta_snapshot,
            read_delta_table,
            shallow_clone_delta_table,
            write_delta_commit,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        self._src(spark, src)
        assert shallow_clone_delta_table(spark, src, dst) == 0
        want = sorted(map(tuple, read_delta_table(spark, src).collect()))
        got = sorted(map(tuple, read_delta_table(spark, dst).collect()))
        assert got == want and len(got) == 6
        # fresh table id, zero data files copied
        import os as _os

        s_id = delta_snapshot(spark, src).metadata_raw["id"]
        d_id = delta_snapshot(spark, dst).metadata_raw["id"]
        assert s_id != d_id
        assert not [
            n for n in _os.listdir(dst) if n.endswith(".parquet")
        ]
        # divergence: append to the clone lands locally, source frozen
        write_delta_commit(
            spark,
            spark.createDataFrame([(99, "x")], "id long, v string"),
            dst,
        )
        assert read_delta_table(spark, dst).count() == 7
        assert read_delta_table(spark, src).count() == 6

    def test_clone_dml_and_vacuum_never_touch_source(self, spark, tmp_path):
        import os as _os

        from fintech_lakehouse_spark.sources.deltalog import (
            delete_from_delta_table,
            read_delta_table,
            shallow_clone_delta_table,
            vacuum_delta_table,
        )

        src = str(tmp_path / "src2")
        dst = str(tmp_path / "dst2")
        self._src(spark, src)
        src_files = {
            n for n in _os.listdir(src) if n.endswith(".parquet")
        }
        shallow_clone_delta_table(spark, src, dst)
        # CoW DELETE on the clone: borrowed file tombstoned, surviving
        # rows rewritten locally under the clone
        delete_from_delta_table(spark, dst, "id = 1")
        assert sorted(
            r["id"] for r in read_delta_table(spark, dst).collect()
        ) == [0, 2, 3, 4, 5]
        assert read_delta_table(spark, src).count() == 6
        # vacuum reclaims nothing outside the clone root — the
        # tombstoned absolute path belongs to the source
        vacuum_delta_table(spark, dst, keep_versions=1)
        assert {
            n for n in _os.listdir(src) if n.endswith(".parquet")
        } == src_files
        assert read_delta_table(spark, src).count() == 6
        assert sorted(
            r["id"] for r in read_delta_table(spark, dst).collect()
        ) == [0, 2, 3, 4, 5]

    def test_clone_of_dv_table_rewrites_descriptors_absolute(
        self, spark, tmp_path
    ):
        """r13 (was a refusal through r12): a DV-carrying source
        clones — relative 'u' descriptors rewrite to absolute 'p'
        descriptors into the SOURCE's .bin files, so the clone reads
        the same live rows; the source's bins stay owned by the
        source (the clone's VACUUM never crosses roots)."""
        from fintech_lakehouse_spark.sources.deltalog import (
            delete_from_delta_table,
            delta_snapshot,
            read_delta_table,
            shallow_clone_delta_table,
            vacuum_delta_table,
        )

        src = str(tmp_path / "src3")
        self._src(spark, src)
        delete_from_delta_table(
            spark, src, "id = 0", use_deletion_vectors=True
        )
        want = sorted(
            r["id"] for r in read_delta_table(spark, src).collect()
        )
        dst = str(tmp_path / "d3")
        shallow_clone_delta_table(spark, src, dst)
        got = sorted(
            r["id"] for r in read_delta_table(spark, dst).collect()
        )
        assert got == want
        dsnap = delta_snapshot(spark, dst)
        for dv in dsnap.deletion_vectors.values():
            assert dv["storageType"] in ("p", "i")
            if dv["storageType"] == "p":
                assert os.path.isabs(dv["pathOrInlineDv"])
        # clone-side vacuum never deletes the source's files or bins
        assert vacuum_delta_table(spark, dst) == []
        assert got == sorted(
            r["id"] for r in read_delta_table(spark, src).collect()
        )

    def test_clone_refuses_existing_target(self, spark, tmp_path):
        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            shallow_clone_delta_table,
        )

        src2 = str(tmp_path / "src4")
        self._src(spark, src2)
        dst = str(tmp_path / "dst4")
        shallow_clone_delta_table(spark, src2, dst)
        with _pytest.raises(ValueError, match="already has a Delta log"):
            shallow_clone_delta_table(spark, src2, dst)


def test_clone_of_ict_table_keeps_writing_icts(spark, tmp_path):
    """r11 self-audit: the clone's fresh log must carry an ICT on its
    CLONE commit (enablement properties re-pointed at version 0) or
    the prev-commit probe never fires and the cloned table silently
    stops writing in-commit timestamps."""
    import json as _json
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        enable_in_commit_timestamps,
        shallow_clone_delta_table,
        write_delta_commit,
    )

    src = str(tmp_path / "ict_src")
    _os.makedirs(src)
    write_delta_commit(
        spark, spark.createDataFrame([(1,)], "id long").coalesce(1), src
    )
    enable_in_commit_timestamps(spark, src)
    dst = str(tmp_path / "ict_dst")
    shallow_clone_delta_table(spark, src, dst)
    write_delta_commit(
        spark, spark.createDataFrame([(2,)], "id long").coalesce(1), dst
    )
    icts = []
    for v in (0, 1):
        with open(
            _os.path.join(dst, "_delta_log", f"{v:020d}.json")
        ) as fh:
            first = _json.loads(fh.readline())
        icts.append(int(first["commitInfo"]["inCommitTimestamp"]))
    assert icts[0] < icts[1]
    with open(_os.path.join(dst, "_delta_log", f"{0:020d}.json")) as fh:
        for line in fh:
            a = _json.loads(line)
            if "metaData" in a:
                conf = a["metaData"]["configuration"]
                assert (
                    conf["delta.inCommitTimestampEnablementVersion"] == "0"
                )


def test_optimize_on_clone_localizes_data(spark, tmp_path):
    """r11: OPTIMIZE on a shallow clone compacts the borrowed
    absolute-path files into LOCAL files under the clone (the standard
    way to materialize a clone), tombstoning the borrowed paths;
    the source stays untouched and a subsequent clone VACUUM deletes
    nothing outside its root."""
    import os as _os

    from fintech_lakehouse_spark.sources.deltalog import (
        optimize_delta_table,
        read_delta_table,
        shallow_clone_delta_table,
        vacuum_delta_table,
        write_delta_commit,
    )

    src = str(tmp_path / "osrc")
    _os.makedirs(src)
    for lo in (0, 3):
        write_delta_commit(
            spark,
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 3)],
                "id long, v string",
            ).coalesce(1),
            src,
        )
    dst = str(tmp_path / "odst")
    shallow_clone_delta_table(spark, src, dst)
    want = sorted(map(tuple, read_delta_table(spark, dst).collect()))
    optimize_delta_table(spark, dst, target_files=1)
    got = sorted(map(tuple, read_delta_table(spark, dst).collect()))
    assert got == want
    # data now lives locally; borrowed files tombstoned
    local = [n for n in _os.listdir(dst) if n.endswith(".parquet")]
    assert local
    src_files = {n for n in _os.listdir(src) if n.endswith(".parquet")}
    vacuum_delta_table(spark, dst, keep_versions=1)
    assert {
        n for n in _os.listdir(src) if n.endswith(".parquet")
    } == src_files
    assert read_delta_table(spark, src).count() == 6
    assert sorted(map(tuple, read_delta_table(spark, dst).collect())) == want


class TestConvertToDelta:
    """CONVERT TO DELTA (r13): a _delta_log committed OVER existing
    parquet without rewriting a byte."""

    def test_convert_flat_directory(self, spark, tmp_path):
        from fintech_lakehouse_spark.sources.deltalog import (
            convert_parquet_to_delta,
            delta_snapshot,
            read_delta_table,
            write_delta_commit,
        )

        root = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ).repartition(3).write.parquet(root)
        before = sorted(
            map(tuple, spark.read.parquet(root).collect())
        )
        assert convert_parquet_to_delta(spark, root) == 0
        got = sorted(
            map(tuple, read_delta_table(spark, root).collect())
        )
        assert got == before
        snap = delta_snapshot(spark, root)
        assert len(snap.files) == 3  # the ORIGINAL files, not rewrites
        # the converted table is a real Delta table: appends work
        write_delta_commit(
            spark,
            spark.createDataFrame([(100, "new")], "id long, v string"),
            root,
        )
        assert (100, "new") in set(
            map(tuple, read_delta_table(spark, root).collect())
        )

    def test_convert_hive_partitioned(self, spark, tmp_path):
        from fintech_lakehouse_spark.sources.deltalog import (
            convert_parquet_to_delta,
            delete_from_delta_table,
            delta_snapshot,
            read_delta_table,
        )

        root = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, i % 3, f"v{i}") for i in range(12)],
            "id long, p long, v string",
        ).write.partitionBy("p").parquet(root)
        before = sorted(
            map(tuple, spark.read.parquet(root)
                .select("id", "p", "v").collect())
        )
        convert_parquet_to_delta(spark, root, {"p": "bigint"})
        snap = delta_snapshot(spark, root)
        assert snap.partition_columns == ["p"]
        out = read_delta_table(spark, root).select("id", "p", "v")
        assert sorted(map(tuple, out.collect())) == before
        # partition pruning works from the converted partitionValues
        assert sorted(
            r.id for r in out.filter("p = 1").collect()
        ) == [1, 4, 7, 10]
        # Spark's partitionBy writes the SAME part-file basename in
        # every partition dir, so the converted table hits the DML
        # basename-collision guard — fail CLOSED with the documented
        # message (reads resolve through the grouped fallback; the
        # repo's own writer never produces collisions)
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="colliding"):
            delete_from_delta_table(spark, root, "id = 0")

    def test_convert_refusals(self, spark, tmp_path):
        import pytest as _pytest

        from fintech_lakehouse_spark.sources.deltalog import (
            convert_parquet_to_delta,
            write_delta_commit,
        )

        # already a Delta table
        root = str(tmp_path / "d")
        os.makedirs(root)
        write_delta_commit(
            spark, spark.createDataFrame([(1,)], "id long"), root
        )
        with _pytest.raises(ValueError, match="already has a Delta log"):
            convert_parquet_to_delta(spark, root)
        # partitioned layout without a partition_schema
        root2 = str(tmp_path / "p")
        spark.createDataFrame(
            [(1, 1)], "id long, p long"
        ).write.partitionBy("p").parquet(root2)
        with _pytest.raises(ValueError, match="must agree exactly"):
            convert_parquet_to_delta(spark, root2)
        # stray non-parquet data file
        root3 = str(tmp_path / "s")
        spark.createDataFrame([(1,)], "id long").write.parquet(root3)
        with open(os.path.join(root3, "stray.csv"), "w") as fh:
            fh.write("x\n")
        with _pytest.raises(ValueError, match="non-parquet"):
            convert_parquet_to_delta(spark, root3)
