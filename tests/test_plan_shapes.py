"""Physical-plan shape assertions — the 100 TB design invariants.

These encode what `.explain()` review established: filters reach the
parquet scan, dimension joins broadcast, the as-of join never becomes a
nested loop, and rank filters use WindowGroupLimit. A regression here
means a plan that still passes correctness tests but would fall over at
scale."""

import pytest

from aquacache_spark import queries as Q
from conftest import SF_SMOKE


def plan(spark, name):
    df = Q.QUERIES[name](spark, SF_SMOKE)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    p = plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: only the needed columns in ReadSchema
    assert "l_orderkey" not in p.split("ReadSchema")[1].split("\n")[0]


def test_dim_joins_broadcast(spark):
    p = plan(spark, "region_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_asof_join_is_equi_join_not_bnlj(spark):
    p = plan(spark, "asof_join_1to1")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_topk_uses_window_group_limit(spark):
    p = plan(spark, "topk_per_group")
    assert "WindowGroupLimit" in p


def test_grade_exclusion_broadcasts_qc_table(spark):
    p = plan(spark, "grade_exclusion_antijoin")
    assert "BroadcastNestedLoopJoin LeftAnti, BuildRight" in p or (
        "BroadcastHashJoin" in p
    )
    # the QC side must be the broadcast side, never the fact table
    assert "CartesianProduct" not in p


def test_corrections_compile_to_single_stage(spark):
    # the ordered fold is one projection — no joins, no shuffles
    p = plan(spark, "corrections_chain")
    assert "Join" not in p
    assert "Exchange" not in p


def test_code_generation_broadcasts_polygons(spark):
    # PIP join must broadcast the catalog-sized basin side; the point
    # batch never becomes the build side of a nested loop
    p = plan(spark, "location_code_generation")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_insert_validation_dims_broadcast(spark):
    # every FK check is a broadcast join marker, never a sort-merge
    p = plan(spark, "timeseries_insert_validation")
    assert "SortMergeJoin" not in p


def test_import_mapping_resolution_broadcasts_criteria(spark):
    # melted criteria + mapping payload broadcast; `best` (one row per
    # matched record — data cardinality) must NOT broadcast: its
    # reattachment is the shuffle join on record_id
    p = plan(spark, "import_mapping_resolution")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_eqwin_normalize_broadcasts_dims(spark):
    p = plan(spark, "eqwin_normalize")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_corrected_read_at_is_map_only(spark):
    # corrections reconstructed at plan-build time compile into one
    # when()-chain: zero exchanges over the fact
    import re

    p = plan(spark, "corrected_read_at")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0
    assert "Join" not in p


def test_basin_stats_broadcasts_polygons(spark):
    # the non-equi bbox join must build on the broadcast polygon side;
    # no shuffle of tiles against polygons
    import re

    p = plan(spark, "raster_basin_stats")
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p and "BuildRight" in p


def test_text_kernels_map_only(spark):
    # entropy fold and C4 line filter never shuffle
    import re

    for name in ("token_entropy", "c4_line_filter"):
        p = plan(spark, name)
        assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0, name
        assert "Join" not in p, name


def test_hampel_single_window_shuffle(spark):
    # detector = one per-series window exchange, no joins
    import re

    p = plan(spark, "hampel_spike_flags")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "Join" not in p


def test_segment_overlay_sweep_single_exchange(spark):
    # boundary-event sweep: one per-series exchange, zero joins — the
    # former elems x segments containment join (O(segments^2) per
    # series) must never come back
    import re

    p = plan(spark, "segment_overlay")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "Join" not in p


def test_tz_daily_rollup_single_exchange(spark):
    # named-zone bucketing stays a map-side expression: one groupBy
    # exchange, no joins, no python
    import re

    p = plan(spark, "tz_daily_rollup_dst")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "Join" not in p and "EvalPython" not in p


def test_nhn_gpkg_read_no_shuffle(spark):
    # container read is a rowid-chunked mapInPandas scan; the upsert
    # classification joins broadcast — zero exchanges end to end
    import re

    p = plan(spark, "nhn_gpkg_layer_upsert")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0
    assert "SortMergeJoin" not in p


def test_gridded_ingest_joins_broadcast(spark):
    # decode-to-stats pipelines join catalog-sized reference frames
    # broadcast; no sort-merge over the cell mass, nothing cartesian
    # except the bbox-overlap zonal join (broadcast BNLJ by design)
    for name in ("hrdpa_grib_ingest", "hrdps_grib_ingest",
                 "caldas_grib_ingest", "era5_netcdf_ingest",
                 "hrdpa_complex_ingest", "hrdpa_rotated_ingest",
                 "era5_netcdf4_ingest"):
        p = plan(spark, name)
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_gopher_gate_map_only(spark):
    # the full Gopher rule set is one codegen'd projection — zero
    # exchanges, zero joins, zero python
    import re

    p = plan(spark, "gopher_quality_gate")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0
    assert "Join" not in p and "EvalPython" not in p


def test_csw_layer_broadcast_dims_single_window_exchange(spark):
    # every dim join is a broadcast; the ONLY hash exchange is the
    # latest-owner row_number window (the LATERAL LIMIT 1 replay);
    # the daily fact is filtered before any join; zero python
    import re

    p = plan(spark, "csw_layer_read")
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"hashpartitioning", p)) <= 1
    assert "EvalPython" not in p


def test_instrument_validators_broadcast_only(spark):
    # the instruments schema is catalog-sized: the validation ladders
    # run on broadcast joins with no sort-merge fallback and no python
    import re

    for name in ("instrument_connection_signal_check",
                 "instrument_acquisition_validation"):
        p = plan(spark, name)
        assert "SortMergeJoin" not in p, name
        assert "EvalPython" not in p, name
        assert len(re.findall(r"hashpartitioning", p)) <= 2, name


def test_new_map_only_kernels_zero_exchange(spark):
    # Unicode folding and the hashed linear classifier are pure
    # projections: zero exchanges, zero joins, zero python
    import re

    for name in ("unicode_fold_normalize", "model_quality_score"):
        p = plan(spark, name)
        assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0, name
        assert "Join" not in p, name
        assert "EvalPython" not in p, name


def test_sketch_and_tfidf_plan_shapes(spark):
    # sketches: the probe/cross joins ride broadcasts; no sort-merge
    # join anywhere (bounded state tables must never shuffle the
    # corpus side on their key)
    import re

    for name in ("hll_token_distinct", "countmin_heavy_hitters",
                 "bloom_membership", "tfidf_top_terms"):
        p = plan(spark, name)
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
    # tfidf: the top-k rank must push the limit into the sort
    assert "WindowGroupLimit" in plan(spark, "tfidf_top_terms")


def test_metadata_views_all_broadcast(spark):
    # the bilingual metadata views are catalog-star reads: every dim
    # and every pre-aggregated rollup must arrive broadcast — a
    # SortMergeJoin here would shuffle the driving catalog once per
    # dimension (12x at the timeseries view)
    for name in ("location_metadata_read", "location_metadata_fr",
                 "timeseries_metadata_read", "timeseries_metadata_fr"):
        p = plan(spark, name)
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
        assert "BroadcastHashJoin" in p, name


def test_rating_curves_all_broadcast(spark):
    # curves/shifts/points are catalog-sized: every rating join must
    # broadcast them; the measurement fact never shuffles
    p = plan(spark, "rating_curve_discharge")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    import re
    assert len(re.findall(r"^\(\d+\) Exchange hashpartitioning", p,
                          re.M)) == 0


def test_bilinear_grid_never_broadcast(spark):
    # the cell grid is raster-cardinality: the corner join must be a
    # plain equi-join on (x, y) — whichever side AQE picks to build,
    # the plan must not force a broadcast of the grid scan
    p = plan(spark, "raster_bilinear_sample")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


_ALL_PLANS: dict = {}


def all_plans(spark):
    """Every registered query's formatted physical plan, built ONCE per
    session (the walk is ~2.5 min; the blanket invariants below share
    it). Build failures are recorded as offender strings so each
    invariant still reports them."""
    if not _ALL_PLANS:
        for name in sorted(Q.QUERIES):
            try:
                _ALL_PLANS[name] = plan(spark, name)
            except Exception as exc:  # pragma: no cover - must build
                _ALL_PLANS[name] = f"__PLAN_BUILD_FAILED__: {exc}"
            spark.catalog.clearCache()
    return _ALL_PLANS


def test_no_cartesian_product_in_any_query(spark):
    # blanket invariant over the whole battery: no plan may contain a
    # CartesianProduct — a cross join whose both sides are
    # data-cardinality is never acceptable at 100 TB (1-row broadcast
    # cross joins compile to BroadcastNestedLoopJoin, which is fine)
    offenders = []
    for name, p in all_plans(spark).items():
        if "CartesianProduct" in p or "__PLAN_BUILD_FAILED__" in p:
            offenders.append((name, p[:200]))
    assert not offenders, offenders


def test_no_batch_eval_python_in_any_query(spark):
    # blanket invariant #2: no plan may contain a row-at-a-time Python
    # UDF node (BatchEvalPython pickles row by row — 10-100x slower
    # than JVM codegen and the classic hot-path killer). The Arrow
    # family (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
    # is the allowed Python escape hatch: columnar batch transfer.
    # Today this holds by convention and per-query pins; this gate
    # keeps a future scalar @udf from slipping into the registry.
    offenders = []
    for name, p in all_plans(spark).items():
        if "BatchEvalPython" in p:
            offenders.append(name)
    assert not offenders, offenders


def test_discrete_metadata_views_dims_broadcast(spark):
    # discrete.samples_metadata_*: samples is the only fact — every
    # dim join and pre-aggregated rollup arrives broadcast, the fact
    # never shuffles. results_metadata_* additionally carries ONE
    # fact-fact equi-join (results x samples view, on sample_id) —
    # the pin allows that join in whatever form AQE picks but still
    # forbids any cartesian/nested-loop anywhere.
    for name in ("samples_metadata_read", "samples_metadata_fr"):
        p = plan(spark, name)
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
        assert "BroadcastHashJoin" in p, name
    for name in ("results_metadata_read", "results_metadata_fr"):
        p = plan(spark, name)
        assert "CartesianProduct" not in p, name
        # exactly ONE nested-loop join NODE: parameter_unit_map's
        # intentional dim x dim cross (|parameters| x |matrix_states|,
        # both catalog-class) — nothing fact-sized may go near one
        # (formatted explain prints each node twice: tree + details)
        import re
        nl = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p))
        assert len(nl) == 1, name
        assert "BroadcastHashJoin" in p, name


def test_round9_new_queries_no_pathological_joins(spark):
    # WARC capstone, SPI: neither may plan a cartesian or nested-loop
    # join anywhere (the store probe and the rank windows are all
    # equi-keyed)
    for name in ("warc_crawl_corpus", "spi_empirical_3mo"):
        p = plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_spi_windows_are_series_keyed(spark):
    # every SPI window partitions on (series[, mon]) — a global
    # (unpartitioned) window would funnel the corpus into one task
    p = plan(spark, "spi_empirical_3mo")
    assert "SinglePartition" not in p


def test_bloom_decontamination_sketch_broadcast(spark):
    # the Bloom word table must arrive broadcast (it is what makes the
    # probe map-side at 100 TB); nothing cartesian anywhere
    p = plan(spark, "bloom_decontamination")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_transmission_validators_broadcast_ladder(spark):
    # patch_36/37 validator family: catalog-sized tables only — every
    # join (deployment lookups, capability maps, the overlap
    # self-probes on exact key tuples) must arrive broadcast; nothing
    # may sort-merge, nested-loop, or cross. The overlap probes are
    # exact equi-joins on the tuple key with the period test as a
    # residual condition, so a BNLJ here would mean the key columns
    # fell out of the join condition.
    for name in ("instrument_meta_overlap", "instrument_connection_check",
                 "transmission_setup_validation",
                 "transmission_component_check",
                 "transmission_capability_check",
                 "protocol_dependents_check",
                 "deployment_transmission_dependents",
                 "timeseries_dependents_check"):
        p = plan(spark, name)
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BroadcastHashJoin" in p, name


def test_regional_flood_family_broadcast_only(spark):
    # regional flood frequency family (r10): catalog-sized site/region
    # frames only — every join broadcast, no cartesian/nested-loop/
    # sort-merge anywhere, and the simulation explode is map-side
    for name in ("regional_flood_homogeneity", "regional_index_flood",
                 "regional_index_flood_gev",
                 "regional_discordancy", "regional_screening_report"):
        p = plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BatchEvalPython" not in p, name


def test_guideline_applicability_broadcast_star(spark):
    # patch_51 applicability read API (r11): every dim of the star —
    # guideline book, publishers, units, link-table lists, the
    # result-condition wording table — must arrive broadcast; the ONE
    # shuffle join allowed is the star vs evaluation-core fact join on
    # (guideline_id, sample_id). The only nested-loop joins are the
    # bounded catalog fanouts (samples x rulebook / x inputs grids,
    # broadcast side <= 18 rows); nothing cartesian, nothing Python.
    import re
    for name in ("guideline_applicability_rules",
                 "guideline_applicability_read"):
        p = plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        assert "BroadcastHashJoin" in p, name
        # formatted explain prints each node twice: <=1 real SMJ
        assert len(re.findall("SortMergeJoin", p)) <= 2, name
        # <=3 real BNLJ, all broadcast catalog-grid fanouts
        assert len(re.findall("BroadcastNestedLoopJoin", p)) <= 6, name
