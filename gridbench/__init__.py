"""Gridded-ETL benchmark; run ``python3 gridbench/run.py --help``."""

from gridbench.gridded import EtlLifecycle, GridQueries

WORKLOADS = {w.name: w for w in (EtlLifecycle, GridQueries)}
