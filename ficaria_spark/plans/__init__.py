"""Execution-plan utilities: lineage manifests, checkpoint resume, caches, layout."""
