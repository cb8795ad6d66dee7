"""Operator modules, imported on first use (PEP 562): importing one
operator — as every Python source-runner process does for
``operators.snapshots`` — must not pull in all of them and pandas."""

import importlib

__all__ = ["windows", "joins", "dedup", "similarity", "textops", "topk", "multimodal", "setops"]


def __getattr__(name: str):
    if name in __all__:
        return importlib.import_module(f".{name}", __name__)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
