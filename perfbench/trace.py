"""Spans around tokens_ts internals, installed as attribute wrappers from
the benchmark's own files for the length of a traced loop. The package
itself is not modified: the wrappers replace module attributes and
Catalog methods, and are removed again on exit."""

from __future__ import annotations

import functools
import importlib
from contextlib import contextmanager

# module → (layer, functions looked up through the module attribute)
WRAPPED = {
    "tokens_ts.pipeline": ("pipeline", ("run_backfill",)),
    "tokens_ts.checkpoint": ("checkpoint", (
        "record_done", "token_checksum_by_partition", "done_partitions", "read_manifest",
    )),
    "tokens_ts.tiers": ("tiers", ("build_all_tiers",)),
    "tokens_ts.extract": ("extract", ("full_stats", "point", "to_raw")),
    "tokens_ts.synth": ("synth", ("sequences",)),
}
CATALOG_METHODS = ("overwrite_partitions", "append", "read")


def _wrap(fn, tracer, name, layer, table_arg=None):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        tags = {}
        if table_arg is not None and len(args) > table_arg:
            tags["table"] = args[table_arg]
        with tracer.span(name, layer, **tags):
            return fn(*args, **kwargs)

    return inner


@contextmanager
def spans_installed(tracer):
    from tokens_ts.io.catalog import Catalog

    saved = []
    try:
        for modname, (layer, names) in WRAPPED.items():
            mod = importlib.import_module(modname)
            for n in names:
                fn = getattr(mod, n)
                saved.append((mod, n, fn))
                setattr(mod, n, _wrap(fn, tracer, f"{layer}.{n}", layer))
        for n in CATALOG_METHODS:
            fn = getattr(Catalog, n)
            saved.append((Catalog, n, fn))
            # overwrite_partitions(self, df, name, ...), append(self, df, name)
            # and read(self, spark, name) carry the table at index 2
            setattr(Catalog, n, _wrap(fn, tracer, f"io.catalog.{n}", "io.catalog", table_arg=2))
        yield
    finally:
        for owner, n, fn in reversed(saved):
            setattr(owner, n, fn)
