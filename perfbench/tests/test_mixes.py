import mixes


def _query(module: str):
    def q(spark, sf_dir):
        return None

    q.__module__ = f"pkg.catalog.{module}"
    return q


QUERIES = {
    "q1_pricing_summary": _query("relational"), "q10_returned_items": _query("relational_ext"),
    "q2_min_cost_supplier": _query("relational"), "agg_a": _query("relational"),
    "vax_a": _query("vax"), "vax_b": _query("vax"), "vax_c": _query("vax"),
    "stream_x": _query("events"), "events_d": _query("events"),
    "ann_y": _query("similarity"), "text_bigram": _query("corpus_stats"),
    "graph_z": _query("round13_staged"),
}


def test_family_is_the_registering_module():
    assert mixes.family(QUERIES, "stream_x") == "events"
    assert mixes.family(QUERIES, "text_bigram") == "corpus_stats"
    assert mixes.family(QUERIES, "q10_returned_items") == "relational_ext"


def test_catalog_small_takes_the_median_named_query_of_each_family():
    mix = mixes.catalog_small(QUERIES)
    assert sorted(mixes.family(QUERIES, n) for n in mix) == sorted(
        {mixes.family(QUERIES, n) for n in QUERIES} - {"round13_staged"})
    assert "vax_b" in mix and "q1_pricing_summary" in mix
    assert mixes.catalog_small(dict(reversed(list(QUERIES.items())))) == mix


def test_tpch_is_numbered_order():
    assert mixes.tpch(QUERIES) == ["q1_pricing_summary", "q2_min_cost_supplier",
                                   "q10_returned_items"]
