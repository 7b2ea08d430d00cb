"""The scale probe's mirrored sf-dir is a complete sf-dir: every grown
table doubles at copies=2 with no key shared between copies and every
line still joined to its order, derived columns stay consistent with
the grown text, dimensions are the base files, and registry entries
run on it unchanged."""

import os

from pyspark.sql import functions as F

GROWN_KEYS = {
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "documents": ["doc_id"],
    "events": ["event_id"],
    "embeddings": ["vec_id"],
}


def test_stage_mirror_is_a_complete_doubled_sf_dir(spark, sf_dir):
    import __spark_entry__ as entrymod
    from sparkobs.io import load_table
    from tools.scale_probe import stage_mirror

    mirror = stage_mirror(spark, sf_dir, 2)

    for table, keys in GROWN_KEYS.items():
        base = load_table(spark, sf_dir, table)
        grown = load_table(spark, mirror, table)
        assert grown.dtypes == base.dtypes, table
        assert grown.count() == 2 * base.count(), table
        # no key is shared between copies. The base's own keys are unique
        # except (l_orderkey, l_linenumber), which the generator repeats,
        # so that pair is held to the base's multiplicity instead
        n_keys = grown.select(*keys).distinct().count()
        assert n_keys == 2 * base.select(*keys).distinct().count(), table
        if table != "lineitem":
            assert n_keys == grown.count(), table

    lineitem = load_table(spark, mirror, "lineitem")
    orders = load_table(spark, mirror, "orders")
    orphans = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
    )
    assert orphans.count() == 0

    docs = load_table(spark, mirror, "documents")
    assert docs.where(F.col("n_chars") != F.length("text")).count() == 0

    for f in os.listdir(sf_dir):
        if f.endswith(".parquet") and f[: -len(".parquet")] not in GROWN_KEYS:
            link = os.path.join(mirror, f)
            assert os.path.islink(link), f
            assert os.path.realpath(link) == os.path.realpath(os.path.join(sf_dir, f))

    qs = entrymod.queries()
    for name, growth in [
        ("large_orders_q18", 2),
        ("chunk_documents", 2),
        ("quantize_embeddings_vectors", 2),
        # same hour buckets, twice the rows in each
        ("psi_drift_hourly_events", 1),
    ]:
        n = qs[name](spark, sf_dir).count()
        assert n > 0, name
        assert qs[name](spark, mirror).count() == growth * n, name
