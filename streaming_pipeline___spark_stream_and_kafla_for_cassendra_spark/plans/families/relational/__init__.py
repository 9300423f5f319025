"""Relational queries over the TPC-H-shaped tables and the event log:
TPC-H plans, SQL-surface censuses, statistics, time series, data
quality and business analytics.
"""
