"""Shared (fn, oracle_sql) registry mechanism for the query-library
modules (controlplane / text / multimodal)."""

from __future__ import annotations


def make_registry():
    """Returns (REGISTRY, reg): a dict and its registering decorator.
    ``reg(name, sql)(fn)`` stores ``REGISTRY[name] = (fn, sql)``; pass
    ``sql=None`` for rows-only (non-SQL-expressible) queries."""
    registry: dict[str, tuple] = {}

    def reg(name: str, sql):
        def deco(fn):
            registry[name] = (fn, sql)
            return fn
        return deco

    return registry, reg
