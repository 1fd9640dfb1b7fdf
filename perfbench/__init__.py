"""Lakehouse-upkeep benchmark (see README.md in this directory)."""
