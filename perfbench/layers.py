"""Which engine functions the traced run wraps, grouped into layers.

Layer names follow the package's module paths under ``etl_hiscox_spark``.
Each entry is ``(layer, module, selector)``; the selector is a list of
function names, ``PUBLIC`` (every public function the module defines) or a
class name (every public method and property of that class).
"""

from __future__ import annotations

import importlib
import inspect

PACKAGE = "etl_hiscox_spark"
PUBLIC = "*"

LAYERS = (
    ("registry.load_table", "registry", ["load_table"]),
    ("fastschema.fast_parquet_schema", "fastschema", ["fast_parquet_schema"]),
    ("sources.txnlog", "sources.txnlog", "TxnTable"),
    (
        "sources.genlog",
        "sources.genlog",
        [
            "commit_generation",
            "append_segment",
            "read_pointer",
            "current_generation",
            "live_index_paths",
            "vacuum_generations",
            "list_generations",
        ],
    ),
    ("sources.commitio", "sources.commitio", PUBLIC),
    ("sources.writers", "sources.writers", PUBLIC),
    ("operators.dedup", "operators.dedup", PUBLIC),
    ("operators.similarity", "operators.similarity", PUBLIC),
    ("concurrency.run_overlapped", "concurrency", ["run_overlapped"]),
    ("plans.llm_pipeline.prepare_corpus", "plans.llm_pipeline", ["prepare_corpus"]),
    ("plans.gdpr.erase_subject", "plans.gdpr", ["erase_subject"]),
    ("streaming.ops", "streaming.ops", PUBLIC),
    ("quality.engine", "quality.engine", "QualityEngine"),
)


def targets():
    """Yield ``(layer, owner, attribute)`` for every function to wrap."""
    for layer, rel, selector in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{rel}")
        if isinstance(selector, list):
            for name in selector:
                yield layer, mod, name
        elif selector == PUBLIC:
            for name, val in vars(mod).items():
                if not name.startswith("_") and inspect.isfunction(val) and val.__module__ == mod.__name__:
                    if not inspect.isgeneratorfunction(val):
                        yield layer, mod, name
        else:
            cls = getattr(mod, selector)
            for name, val in vars(cls).items():
                if name.startswith("_"):
                    continue
                if isinstance(val, property) or (inspect.isfunction(val) and not inspect.isgeneratorfunction(val)):
                    yield layer, cls, name
