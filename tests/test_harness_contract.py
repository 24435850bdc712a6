"""Driver-contract invariants for __spark_entry__ — the round-3 lesson:
a NameError inside queries() silently zeroes the whole correctness round,
so the dict must BUILD (and stay oracle-complete) under plain pytest,
no Spark session required."""

import os

import __spark_entry__ as entrymod


def test_queries_dict_builds_and_is_callable():
    qs = entrymod.queries()
    assert len(qs) >= 80
    for name, fn in qs.items():
        assert callable(fn), name


def test_every_query_has_an_oracle_and_vice_versa():
    qs = set(entrymod.queries())
    oracles = entrymod.oracle_sql()
    assert set(oracles) == qs, (
        set(oracles) ^ qs
    )
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_oracle_sql_is_parseable_by_duckdb():
    """Every oracle must at least PARSE in DuckDB (tables mocked as empty
    views) — catches syntax errors (reserved words, dialect slips) that
    would degrade a query to rows-only at driver time."""
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        sf = "/root/testdata/sf0.001"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet') LIMIT 0"
        )
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        except Exception as exc:  # pragma: no cover - failure carries name
            raise AssertionError(f"oracle for {name} failed to parse: {exc}")


def _load(relpath, name):
    """Import a script of the repository by path."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_and_scale_headline_names_resolve():
    """Every name bench.py and tools/scale_bench.py time must exist in
    queries() — a renamed/removed query must fail HERE, not as a silent
    skip (bench's qs.get(name) tolerates misses) or a driver-time error."""
    qs = set(entrymod.queries())

    bench = _load("bench.py", "bench_contract_check")
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench.HEADLINE names not in queries(): {missing}"

    scale = _load(os.path.join("tools", "scale_bench.py"), "scale_contract_check")
    missing = [n for n in scale.QUERIES if n not in qs]
    assert not missing, f"scale_bench.QUERIES names not in queries(): {missing}"


def test_bench_failing_query_is_listed_in_errors(spark, capsys):
    """A query that raises records -1.0, lands in the bench's errors list
    and prints its error; the other queries still run."""
    bench = _load("bench.py", "bench_errors_check")
    ok_name, bad_name = bench.HEADLINE[:2]

    def boom(spark, sf_dir):
        raise RuntimeError("injected failure")

    qs = {ok_name: lambda spark, sf_dir: spark.range(3), bad_name: boom}
    out, errors = {}, set()
    bench.run_pass(spark, qs, "unused", out, errors)
    assert out[bad_name] == -1.0 and out[ok_name] >= 0
    assert errors == {bad_name}
    assert f"bench error in {bad_name}: injected failure" in capsys.readouterr().err
