"""Engine function library: text hashing/dedup primitives, vector math,
multimodal column helpers (SURVEY §2.3 X1–X5).

Everything here is expression-level (Catalyst ``Column`` builders) or thin
DataFrame combinators — no collect(), no driver-side loops — so every
operator composes into a single distributed plan.
"""


def ship_by_value(*modules: str) -> None:
    """Pickle the named ``flinkexp_spark.functions`` modules BY VALUE.

    Executors launched by a driver running outside the repo cannot import
    ``flinkexp_spark``, so a worker closure that calls into a module here
    must carry the module inside the task pickle.  List every module the
    closure reaches, including the ones those modules import from (for
    example ``ship_by_value("drain", "xz")``)."""
    import importlib

    from pyspark import cloudpickle

    for name in modules:
        module = importlib.import_module(f"{__name__}.{name}")
        cloudpickle.register_pickle_by_value(module)
