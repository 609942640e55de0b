"""The benchmark's tracer wraps engine functions by name
(``perfbench/layers.py``): class attributes are read from the class's own
``__dict__``, module attributes with ``getattr``. A rename or a move of a
traced function must fail here, not in a benchmark run."""

from __future__ import annotations


class _LookupTracer:
    """Resolves every name the way ``perfbench.trace.Tracer`` does and
    records it, without replacing anything."""

    def __init__(self) -> None:
        self.wrapped: list[tuple[object, str, str]] = []

    @staticmethod
    def _original(owner: object, attr: str):
        return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

    def wrap(self, owner: object, attr: str, layer: str, counter=None) -> None:
        assert callable(self._original(owner, attr)), (owner, attr)
        self.wrapped.append((owner, attr, layer))

    def patch(self, owner: object, attr: str, new: object) -> object:
        return self._original(owner, attr)

    def event(self, name: str, value: float) -> None:
        pass


def test_layers_install_resolves_every_traced_name():
    from perfbench import layers
    from db_converter_spark.plans import runner

    tracer = _LookupTracer()
    layers.install(tracer)
    names = {(getattr(o, "__name__", o), a) for o, a, _ in tracer.wrapped}
    for attr in ("_run_on_db", "_run_sql_step", "_eval_generators", "_run_py_step"):
        assert ("PacketRunner", attr) in names
    for attr in ("_run_statement", "split_statements", "export_statements"):
        assert (runner.__name__, attr) in names
    assert {layer for _, _, layer in tracer.wrapped} >= {"runner.target", "ledger", "wzaes.aes"}
