"""The benchmark tracer patches ``feast_spark`` layer entry points by
name (``perfbench/tracing.py``).  A rename of any of them would only
surface as a crash of ``perfbench/run.py --trace 1``; this test binds
and unbinds every one of them, with no Spark session."""

from perfbench.tracing import Tracer


def _bound(owner, attr):
    return vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)


def test_tracer_installs_and_uninstalls_every_binding():
    tracer = Tracer(None)
    try:
        tracer.install()
        patches = list(tracer._patches)
        assert patches
        for owner, attr, orig in patches:
            assert _bound(owner, attr) is not orig, attr
    finally:
        tracer.uninstall()
    for owner, attr, orig in patches:
        assert _bound(owner, attr) is orig, attr
