"""Scalar function kernels: geo, text, ids, stats.

All are native Column expressions unless impossible (NFKD de-accent,
fuzzy ratio, point-in-polygon → pandas UDFs, clearly marked).
"""
