"""Analytics package. QUERIES/QuerySpec re-export is LAZY on purpose.

An eager ``from .registry import QUERIES`` here made importing ANY
analytics submodule pull the whole 8k-line registry -- and on executors,
unpickling a UDF defined in a module that imports an analytics submodule
re-runs this __init__ in the worker. Because the registry imports
streaming.faces, that executor-side import closed a cycle: a faces UDF
unpickle imported faces -> analytics.__init__ -> registry -> the
partially-initialized faces (AttributeError on SESSION_GAP_S, caught by
the vanilla re-verify of stream_state_timeout_audit). Lazy resolution
breaks the cycle at the package boundary and spares every Python worker
the registry build.
"""


def __getattr__(name: str):
    if name in ("QUERIES", "QuerySpec"):
        from pgsf_spark.analytics import registry

        return getattr(registry, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
