"""``tools/unreached.py`` lists exactly the library names below: nothing
outside the test suite reaches them.  A name that newly drops out of every
entry, CLI command, tool and benchmark fails this test; delete it, or add it
here with the reason it stays."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import unreached  # noqa: E402

#: names kept although only tests reach them
KEEP = {
    "__init__.__version__": "the package version",
    "bpe.clear_cache": "test hook: resets the training memo between tests",
    "dedup.clear_cache": "test hook: resets the MinHash cache between tests",
    "geometry.clear_parse_cache": "test hook: resets the parse cache between tests",
    "fold.make_gid": "test reference: the gid rule the fold's kernel must match",
    "geometry.intersect": "test reference: the edge-set intersection the lattice must match",
    "saltfold.fold_key_salted": "test reference: the salted fold end to end on one key",
    "lakehouse.LakeTable.history": "test reference: the snapshot log tests inspect",
    "lakehouse.LakeTable.read_appended": "change-query primitive beside changes(); the "
    "relations insert-only tests read it",
    "osm_source.OVERPASS_URL_BASE": "reference parity (COVERAGE S8)",
    "osm_source.overpass_query_url": "reference parity (COVERAGE S8)",
    "triples.TRIPLE_SCHEMA": "reference parity (COVERAGE S9)",
    "triples.to_ntriples": "reference parity (COVERAGE S9)",
    "triples.write_ntriples": "reference parity (COVERAGE S9)",
    "similarity.pq_mse": "test reference: the quantization error trained codebooks must cut",
    "similarity._pq_cents_j": "used by pq_mse",
    "similarity._pq_cnorms_j": "used by pq_mse",
}

#: unreached names still to delete (ROADMAP open item 4), each with the
#: tests or names that still hold it; those tests go with it
TO_DELETE = {
    "lakehouse.LakeTable.stream_read": "test_stream_read_tails_appends_exactly_once",
    "lakehouse.LakeTable.rollback_to": "test_rollback_restores_content_without_rewrite, "
    "test_rollback_to_expired_snapshot_raises",
    "sketch.hll_estimate": "test_hll_estimate_accuracy, "
    "test_hll_estimate_small_range_linear_counting",
    "sketch.hist_quantile": "test_hist_quantile_accuracy_vs_numpy",
    "streaming.stream_scd2": "test_stream_scd2_equals_batch_and_survives_restart",
    "temporal.create_scd2_table": "the scd2 maintenance tests",
    "temporal.maintain_scd2": "the scd2 maintenance tests",
    "temporal.SCD2_SCHEMA": "the scd2 maintenance tests",
    "temporal.create_rollup_table": "test_continuous_rollup_incremental_refresh",
    "temporal.maintain_rollup": "test_continuous_rollup_incremental_refresh",
    "temporal.ROLLUP_SCHEMA": "test_continuous_rollup_incremental_refresh",
    "temporal._MEASURES": "test_continuous_rollup_incremental_refresh",
    "sql_surface.SQL_QUERIES": "tests/test_sql_surface.py",
    "sql_surface.VIEWS": "tests/test_sql_surface.py",
    "sql_surface.register_views": "tests/test_sql_surface.py",
    "sql_surface.sql_q1_edition": "tests/test_sql_surface.py",
    "sql_surface.sql_q2_edition_unique": "tests/test_sql_surface.py",
    "sql_surface.sql_q3_persisted": "tests/test_sql_surface.py",
    "sql_surface.sql_q4_retired": "tests/test_sql_surface.py",
    "sql_surface.sql_q5_persisted_with_osm": "tests/test_sql_surface.py",
    "multimodal.resize_images": "the resize tests",
    "multimodal.sample_frames": "the frame-sampling tests",
    "multimodal.synth_real_media": "test_synth_real_media_formats",
    "multimodal._synth_payload": "used by synth_real_media",
    "multimodal._sha_bytes": "used by _synth_payload",
    "multimodal.MEDIA_SCHEMA": "used by synth_real_media",
    "multimodal.RESIZED_SCHEMA": "used by resize_images",
    "multimodal.FRAMES_SCHEMA": "used by sample_frames",
    "codecs.decode_pnm": "the netpbm codec tests",
    "codecs.encode_ppm": "the netpbm codec tests",
    "codecs.encode_ppm_stream": "the netpbm codec tests",
    "codecs.resize_bilinear": "the bilinear resize tests",
}


def test_unreached_names_are_exactly_the_allowlist():
    assert not set(KEEP) & set(TO_DELETE)
    assert unreached.unreached() == sorted({**KEEP, **TO_DELETE})
