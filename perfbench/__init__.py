"""Seeded end-to-end and per-layer benchmark of vid_dup_finder_lib_spark."""
