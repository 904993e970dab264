"""IcebergStorage contract test against a recording fake catalog.

No Iceberg runtime jar exists in this sandbox, so the storage twin is
tested the way its contract is defined: same resume semantics as
ParquetStorage (manifest rides the commit; config_fp mismatch
invalidates), exercised through a fake that emulates the few Spark
surfaces the class touches (sql/table/catalog.tableExists +
DataFrameWriterV2.createOrReplace).
"""

import json

import pytest

from codedup.iceberg import MANIFEST_PROP, IcebergStorage


class FakeRow(dict):
    def __getitem__(self, k):
        return dict.__getitem__(self, k)


class FakeWriterV2:
    def __init__(self, df, ident, store):
        self.df, self.ident, self.store = df, ident, store
        self.props = {}

    def using(self, fmt):
        assert fmt == "iceberg"
        return self

    def tableProperty(self, k, v):
        self.props[k] = v
        return self

    def createOrReplace(self):
        # atomic: data + properties land together; writing runs the plan
        self.df.evaluate()
        self.store.tables[self.ident] = {"df": self.df, "props": dict(self.props)}


class FakeDF:
    """A lazy frame: every action re-runs its plan (counted in
    ``evals``) unless it goes through a local checkpoint."""

    def __init__(self, rows, spark):
        self.rows, self.spark = rows, spark
        self.evals = 0

    def evaluate(self):
        self.evals += 1
        return self.rows

    def count(self):
        return len(self.evaluate())

    def writeTo(self, ident):
        return FakeWriterV2(self, ident, self.spark)

    def localCheckpoint(self, eager=True):
        return FakeCheckpoint(self, eager)


class FakeCheckpoint(FakeDF):
    """The parent's plan runs on the first action (or at once when
    eager); later actions read the stored rows."""

    def __init__(self, parent, eager):
        super().__init__(None, parent.spark)
        self.parent = parent
        if eager:
            self.evaluate()

    def evaluate(self):
        if self.rows is None:
            self.rows = self.parent.evaluate()
        return self.rows


class FakeCatalog:
    def __init__(self, spark):
        self.spark = spark

    def tableExists(self, ident):
        return ident in self.spark.tables


class FakeSpark:
    def __init__(self):
        self.tables = {}
        self.sql_log = []
        self.catalog = FakeCatalog(self)

    def sql(self, q):
        self.sql_log.append(q)
        if q.startswith("SHOW TBLPROPERTIES"):
            ident = q.split()[-1]
            props = self.tables[ident]["props"]

            class R:
                def __init__(self, rows):
                    self._rows = rows

                def collect(self):
                    return self._rows

            return R([FakeRow(key=k, value=v) for k, v in props.items()])
        if q.startswith("SHOW TABLES IN"):
            ns = q.split()[-1]

            class R2:
                def __init__(self, rows):
                    self._rows = rows

                def collect(self):
                    return self._rows

            return R2([
                FakeRow(tableName=i.split(".")[-1])
                for i in self.tables if i.startswith(ns + ".")
            ])

        class RNone:
            def collect(self):
                return []

        return RNone()  # CREATE NAMESPACE etc.

    def table(self, ident):
        return self.tables[ident]["df"]


@pytest.fixture
def fake():
    return FakeSpark()


def test_write_commits_data_and_manifest_atomically(fake):
    st = IcebergStorage(fake, "lake", "codedup", "r1", "fp1")
    df = FakeDF([1, 2, 3], fake)
    out = st.write(df, "signatures", extra={"note": "x"})
    ident = "lake.codedup.r1_signatures"
    assert ident in fake.tables
    assert out is fake.tables[ident]["df"]     # the committed table
    assert df.evals == 1                       # the count and the commit share one run
    m = json.loads(fake.tables[ident]["props"][MANIFEST_PROP])
    assert m["rows"] == 3 and m["config_fp"] == "fp1" and m["note"] == "x"
    assert st.is_complete("signatures")
    assert st.manifest("signatures")["stage"] == "signatures"


def test_config_fp_mismatch_invalidates(fake):
    st1 = IcebergStorage(fake, "lake", "codedup", "r1", "fp1")
    st1.write(FakeDF([1], fake), "bands")
    st2 = IcebergStorage(fake, "lake", "codedup", "r1", "fp2")
    assert not st2.is_complete("bands")      # same table, stale config
    assert st1.is_complete("bands")


def test_missing_stage_is_incomplete(fake):
    st = IcebergStorage(fake, "lake", "codedup", "r1", "fp1")
    assert not st.is_complete("nope")
    with pytest.raises(FileNotFoundError):
        st.manifest("nope")


def test_all_manifests_scopes_to_run(fake):
    st = IcebergStorage(fake, "lake", "codedup", "r1", "fp1")
    st.write(FakeDF([1], fake), "bands")
    st.write(FakeDF([1, 2], fake), "candidates")
    other = IcebergStorage(fake, "lake", "codedup", "r2", "fp1")
    other.write(FakeDF([1], fake), "bands")
    # run_id that PREFIXES another run's id (ADVICE r2): 'r1' must not
    # see 'r1_extra''s tables even though 'r1_extra_bands' starts with
    # 'r1_'
    prefixy = IcebergStorage(fake, "lake", "codedup", "r1_extra", "fp1")
    prefixy.write(FakeDF([1], fake), "bands")
    names = [m["stage"] for m in st.all_manifests()]
    assert names == ["bands", "candidates"]
    assert [m["stage"] for m in prefixy.all_manifests()] == ["bands"]


def test_pipeline_accepts_injected_storage(spark, tiny, cfg, tmp_path):
    """pipeline.run(storage=...) uses the injected backend for every
    stage (the seam IcebergStorage plugs into on a real cluster);
    resume semantics flow through the same is_complete/read/write
    contract."""
    from codedup import pipeline
    from codedup.storage import ParquetStorage

    store = ParquetStorage(str(tmp_path / "w"), "inj", cfg.fingerprint())
    r1 = pipeline.run(spark, [tiny["paths"]["files"]], cfg, storage=store,
                      run_id="inj", resume=False)
    assert r1.recomputed_stages == pipeline.STAGES
    r2 = pipeline.run(spark, [tiny["paths"]["files"]], cfg, storage=store,
                      run_id="inj", resume=True)
    assert r2.recomputed_stages == []
