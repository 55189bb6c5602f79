import pyarrow.parquet as pq

import gen

SF = 0.0001  # the smallest tables table_rows allows


def _sorted(tbl):
    return tbl.sort_by([(c, "ascending") for c in tbl.column_names if c != "embedding"])


def test_same_seed_same_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(SF, 7, str(a))
    gen.generate(SF, 7, str(b))
    for name in gen.table_rows(SF):
        ta = pq.read_table(a / f"{name}.parquet")
        tb = pq.read_table(b / f"{name}.parquet")
        assert ta.equals(tb), name


def test_other_seed_same_rows_other_order():
    base = gen.base_tables(SF)
    one, two = gen.permute(base, 1), gen.permute(base, 2)
    for name in ("lineitem", "orders", "events", "documents"):
        assert one[name].num_rows == base[name].num_rows
        assert not one[name].equals(two[name]), name
        assert _sorted(one[name]).equals(_sorted(two[name])), name


def test_content_is_seed_independent():
    assert gen.base_tables(SF)["lineitem"].equals(gen.base_tables(SF)["lineitem"])


def test_schema_matches_fixture_contract(tmp_path):
    rows = gen.generate(SF, 0, str(tmp_path))
    assert rows == gen.table_rows(SF)
    schema = pq.read_schema(tmp_path / "lineitem.parquet")
    assert str(schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(pq.read_schema(tmp_path / "embeddings.parquet").field("embedding").type) == (
        "list<element: float>"
    )


def test_prep_writes_inputs_and_oracle_results(tmp_path):
    import pickle

    import prep

    main, alt = tmp_path / "in", tmp_path / "alt"
    expected = tmp_path / "expected.pkl"
    assert prep.main(["generate", str(SF), "3", str(main)]) == 0
    assert pq.read_table(main / "lineitem.parquet").num_rows == gen.table_rows(SF)["lineitem"]
    args = ["oracles", "q1_pricing_summary", str(expected), str(main), str(SF), "4", str(alt)]
    assert prep.main(args) == 0
    with open(expected, "rb") as f:
        got, got_alt = pickle.load(f)
    assert list(got) == list(got_alt) == ["q1_pricing_summary"]
    assert len(got["q1_pricing_summary"]) > 0
    from tools.check_oracle import compare  # importable once prep put the root on sys.path

    assert compare("q1_pricing_summary", got_alt["q1_pricing_summary"], got["q1_pricing_summary"]) == []


def test_prep_rejects_unknown_arguments():
    import prep

    assert prep.main(["generate", str(SF)]) == 2
