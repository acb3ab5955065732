"""SQL-facing catalog: base tables and catalog operator results
registered as temp views and consumed purely through spark.sql."""

from __future__ import annotations

import pytest


class TestSqlCatalog:
    """The SQL-facing surface: base tables + operator results as
    views, consumed purely through spark.sql."""

    def test_tables_and_operator_views_compose_in_sql(self, spark):
        from market_data_lakehouse_spark.sql_catalog import (
            register_tables,
            register_views,
            unregister,
        )

        sf = "/root/testdata/sf0.001"
        t = register_tables(spark, sf)
        assert "lineitem" in t and "documents" in t
        n = spark.sql(
            "SELECT COUNT(*) AS n FROM lineitem l "
            "JOIN part p ON l.l_partkey = p.p_partkey"
        ).first().n
        assert n > 0
        v = register_views(spark, sf, ["a2_vwap_top10", "e4_normalize"])
        assert v == ["q_a2_vwap_top10", "q_e4_normalize"]
        # operator views join against base tables in plain SQL
        joined = spark.sql(
            "SELECT d.source, COUNT(*) AS n FROM q_e4_normalize q "
            "JOIN documents d ON q.doc_id = d.doc_id GROUP BY d.source"
        )
        assert joined.count() > 0
        top = spark.sql(
            "SELECT * FROM q_a2_vwap_top10 ORDER BY vwap DESC LIMIT 3"
        ).collect()
        assert len(top) == 3
        unregister(spark, t + v)
        assert not spark.catalog.tableExists("q_a2_vwap_top10")

    def test_unknown_query_name_raises(self, spark):
        from market_data_lakehouse_spark.sql_catalog import register_views

        with pytest.raises(ValueError, match="unknown"):
            register_views(spark, "/root/testdata/sf0.001", ["nope"])
