"""session.py clock normalization: events.ts -> epoch-nanos long must
be exact regardless of the parquet timestamp type AND the session
timezone (the NTZ wall-clock is defined as UTC by the data contract,
TESTDATA.md)."""

import datetime


from teste_carga_avro_vs_json_spark.session import normalize_events_ts

_WALL = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
_WANT_NANOS = int(
    _WALL.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
) * 1000


def _with_tz(spark, tz):
    spark.conf.set("spark.sql.session.timeZone", tz)


def test_ntz_ts_is_tz_independent(spark):
    """The NTZ branch (timestampdiff wall-clock arithmetic) must not
    shift with the session timezone — measured: cast(timestamp) and
    to_utc_timestamp both DO shift, which is why they aren't used."""
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/Sao_Paulo", "Asia/Tokyo"):
            _with_tz(spark, tz)
            df = spark.createDataFrame([(_WALL,)], "ts timestamp_ntz")
            [row] = normalize_events_ts(df).collect()
            assert row.ts == _WANT_NANOS, (tz, row.ts, _WANT_NANOS)
    finally:
        _with_tz(spark, old)


def test_ntz_conversion_bound_at_eval_not_build(spark):
    """Changing the session tz between plan build and action must not
    alter the result (the conversion is pure NTZ arithmetic, not a
    build-time tz capture)."""
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        _with_tz(spark, "America/Sao_Paulo")
        df = normalize_events_ts(
            spark.createDataFrame([(_WALL,)], "ts timestamp_ntz")
        )
        _with_tz(spark, "Asia/Tokyo")  # flip AFTER build, BEFORE action
        [row] = df.collect()
        assert row.ts == _WANT_NANOS
    finally:
        _with_tz(spark, old)


def test_ltz_ts_reads_instant(spark):
    """The LTZ branch reads the stored instant via unix_micros — the
    session tz affects rendering only, never the stored micros."""
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        _with_tz(spark, "UTC")
        aware = _WALL.replace(tzinfo=datetime.timezone.utc)
        df = spark.createDataFrame([(aware,)], "ts timestamp")
        _with_tz(spark, "America/Sao_Paulo")
        [row] = normalize_events_ts(df).collect()
        assert row.ts == _WANT_NANOS
    finally:
        _with_tz(spark, old)


def test_long_ts_passthrough(spark):
    """nanos-long input (the real testdata shape via nanosAsLong) is
    untouched."""
    df = spark.createDataFrame([(_WANT_NANOS,)], "ts long")
    [row] = normalize_events_ts(df).collect()
    assert row.ts == _WANT_NANOS


def test_configure_warns_once_per_session_on_static_conf():
    """A conf.set failure (static conf build) must surface as a
    RuntimeWarning naming the key — once per session, not once per
    load_table call — instead of being silently swallowed."""
    import warnings as _warnings

    from teste_carga_avro_vs_json_spark import session as session_mod

    class _StaticConf:
        def set(self, k, v):
            raise Exception(f"Cannot modify the value of a static config: {k}")

    class _StaticSession:
        conf = _StaticConf()

    fake = _StaticSession()
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        out = session_mod.configure(fake)
        assert out is fake  # session still returned usable
        msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
        assert len(msgs) == len(session_mod._RUNTIME_CONFS)
        for key in session_mod._RUNTIME_CONFS:
            assert any(key in m for m in msgs), key
        # second configure on the SAME session: no duplicate warnings
        n_before = len(caught)
        session_mod.configure(fake)
        assert len(caught) == n_before
    # a DIFFERENT session warns afresh — including when CPython reuses
    # the dead session's id() (r5 ADVICE: the old module-level
    # id(spark)-keyed set silently suppressed this case). The warned-set
    # lives on the session object now, so a successor at the same
    # address starts clean.
    old_id = id(fake)
    del fake
    import gc

    gc.collect()
    fake2 = _StaticSession()  # frequently lands on the freed address
    with _warnings.catch_warnings(record=True) as caught2:
        _warnings.simplefilter("always")
        session_mod.configure(fake2)
        msgs2 = [str(w.message) for w in caught2 if w.category is RuntimeWarning]
        assert len(msgs2) == len(session_mod._RUNTIME_CONFS), (
            "fresh session must warn afresh even on id reuse",
            id(fake2) == old_id,
        )


def test_one_session_builder():
    """``get_spark`` is the only session builder in the package, the
    tools, ``bench.py`` and the driver entry (``bench.py`` takes the
    benchmark harness's host-sized session), and no session size is read
    from the environment."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    files = [
        *sorted((repo / "teste_carga_avro_vs_json_spark").rglob("*.py")),
        *sorted((repo / "tools").rglob("*.py")),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    knobs = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_SHUFFLE_PARTITIONS")
    builders, reads = [], []
    for f in files:
        text = f.read_text()
        name = str(f.relative_to(repo))
        builders += [name] * text.count("SparkSession.builder")
        reads += [(name, k) for k in knobs if k in text]
    assert builders == ["teste_carga_avro_vs_json_spark/session.py"]
    assert reads == []


def test_console_progress_off(spark):
    """The built session draws no console progress bars, which would
    overwrite the result lines the gate tools print."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"


def test_codegen_cache_holds_a_round(spark):
    """The session builder sizes Spark's static generated-class cache
    above one llm_data round (~320 classes) so a warm round does not
    recompile; Spark's default is 100."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
