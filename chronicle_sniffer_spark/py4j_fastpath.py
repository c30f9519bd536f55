"""py4j reflection-lookup cache — the plan-construction fast path.

Why this exists (guide §1.2 step 1 applied to the DRIVER): plan
construction is serial, driver-side work a cluster cannot
parallelize, and it is a fixed cost on every job and micro-batch.
Measured on traced ``perfbench`` ``stream_arrivals`` runs (seed 1,
two runs per side, 4-core host): the UDM projection build takes
0.103-0.105 s and 1186 py4j round trips with this cache, 0.135-0.159 s
and 2455-2468 round trips with ``CSS_NO_PY4J_FASTPATH=1``.  Round 14 removed the per-call
DataFrame-debugging origin capture (~half of all py4j round trips);
the residual round trips are dominated by py4j REFLECTION commands
that py4j 0.10.9.x re-issues on every access:

- ``JVMView.__getattr__`` (every ``sc._jvm.<name>``) sends a
  ``REFL_GET_UNKNOWN`` round trip on EVERY access — no cache.
- ``JavaClass.__getattr__`` (every static-member access, e.g.
  ``sc._jvm.functions.<fn>`` inside every single PySpark
  ``F.<fn>()`` call) sends a ``REFL_GET_MEMBER`` round trip on
  EVERY access — no cache.

So one ``F.upper(...)`` costs three synchronous socket round trips:
resolve ``functions`` (reflection), resolve ``upper`` (reflection),
invoke (call).  Only the third does work.  This module memoizes the
first two per owning instance, which removes roughly two thirds of
the remaining plan-build round trips without changing a single JVM
call that gets executed.

Safety argument:

- Entries are cached on the JVMView / JavaClass INSTANCE.  Those
  instances belong to one gateway client; a JVM/gateway restart
  produces fresh instances, so stale handles can never be served
  across a restart.  (``SparkSession.stop()`` keeps the JVM and the
  gateway alive — the same instances stay valid, exactly as py4j
  itself assumes when it caches ``JavaObject`` members.)
- A ``JavaMember`` for a static method is stateless: name + static
  target id + gateway client.  py4j already reuses per-object
  ``JavaMember``s across calls and threads (``JavaObject._methods``);
  this extends the identical policy to statics.
- Static FIELD reads are NOT cached — a field's value can change.
  Only method handles (``JavaMember``) and nested classes
  (``JavaClass``) are memoized; both are immutable resolutions.
- Failures are never cached: an unknown name raises exactly as
  before, every time.
- ``java_import()`` after a cached resolution of the same short name
  changes what that name resolves to (an unknown short name resolves
  to a ``JavaPackage`` until the import makes it a ``JavaClass``).
  PySpark calls ``java_import`` lazily, not only at gateway launch:
  ``DataStreamWriter.foreachBatch`` and
  ``StreamingQueryManager.addListener`` import on first use.  So
  :func:`install` also wraps ``py4j.java_gateway.java_import`` to
  drop the target view's cache after the import; those PySpark call
  sites look the function up from that module at call time.

Results are byte-identical (the same JVM methods execute with the
same arguments); only redundant reflection chatter is removed.
Disable with ``CSS_NO_PY4J_FASTPATH=1`` (used by the A/B round-trip
counter in tools/count_roundtrips.py).
"""

from __future__ import annotations

import os

_INSTALLED = False


def install() -> None:
    """Idempotently install the reflection caches (process-global)."""
    global _INSTALLED
    if _INSTALLED or os.environ.get("CSS_NO_PY4J_FASTPATH"):
        return

    from py4j import java_gateway
    from py4j.java_gateway import JavaClass, JavaMember, JavaPackage, JVMView

    view_orig = JVMView.__getattr__

    def view_getattr(self: JVMView, name: str):
        cache = self.__dict__.get("_css_attr_cache")
        if cache is None:
            cache = self.__dict__["_css_attr_cache"] = {}
        hit = cache.get(name)
        if hit is not None:
            return hit
        value = view_orig(self, name)
        # JavaPackage / JavaClass resolutions are stable for the life
        # of the gateway; cache them.  (Failure raised above.)
        cache[name] = value
        return value

    class_orig = JavaClass.__getattr__

    def class_getattr(self: JavaClass, name: str):
        cache = self.__dict__.get("_css_attr_cache")
        if cache is None:
            cache = self.__dict__["_css_attr_cache"] = {}
        hit = cache.get(name)
        if hit is not None:
            return hit
        value = class_orig(self, name)
        # Cache only immutable resolutions (static METHOD handles and
        # nested classes).  A static FIELD access returns the field's
        # VALUE, which may change between reads — never cache those.
        if isinstance(value, (JavaMember, JavaClass)):
            cache[name] = value
        return value

    package_orig = JavaPackage.__getattr__

    def package_getattr(self: JavaPackage, name: str):
        # `sc._jvm.org.apache.spark...` walks one reflection round
        # trip per dotted segment per call; package->subpackage and
        # package->class resolutions are as stable as the view/class
        # ones, and because the PARENT caches, the same instance (and
        # so this cache) is reused across calls.
        cache = self.__dict__.get("_css_attr_cache")
        if cache is None:
            cache = self.__dict__["_css_attr_cache"] = {}
        hit = cache.get(name)
        if hit is not None:
            return hit
        value = package_orig(self, name)
        if isinstance(value, (JavaPackage, JavaClass)):
            cache[name] = value
        return value

    import_orig = java_gateway.java_import

    def java_import(jvm_view: JVMView, import_str: str):
        # the import can turn a cached JavaPackage short name into a
        # class: re-resolve everything on this view from now on
        result = import_orig(jvm_view, import_str)
        jvm_view.__dict__.pop("_css_attr_cache", None)
        return result

    JVMView.__getattr__ = view_getattr  # type: ignore[method-assign]
    JavaClass.__getattr__ = class_getattr  # type: ignore[method-assign]
    JavaPackage.__getattr__ = package_getattr  # type: ignore[method-assign]
    java_gateway.java_import = java_import
    _INSTALLED = True

    # NOT patched, deliberately: the per-dropped-JavaObject MEMORY_DEL
    # round trips (650-900 inside one UDM projection build window) are
    # ALREADY asynchronous in PySpark's default pin-thread ClientServer
    # mode — JavaClient.garbage_collect_object(enqueue=True) hands them
    # to py4j's own FinalizerWorker daemon thread, which drains on its
    # own connection.  They show up in a global send_command counter
    # but never block the plan-building thread, so there is nothing to
    # win there.


def is_installed() -> bool:
    return _INSTALLED
