"""The benchmark's traced run (perfbench/layers.py) wraps package
functions by module path and reads some of their arguments by name; a
rename must fail here rather than silently break `--trace 1`."""

import importlib
import inspect

from perfbench.layers import LAYER_FUNCTIONS, PKG

# arguments the layer counts read from the recorded calls
READ_ARGS = {
    "write_table": {"location"},
    "lsh_pairs_from_signatures": {"sigs", "num_hashes", "bands", "hash_fn"},
    "near_dup_clusters": {"pairs"},
}


def test_layer_functions_resolve():
    for path, attr, _layer in LAYER_FUNCTIONS:
        module = importlib.import_module(f"{PKG}.{path}")
        cls, _, name = attr.rpartition(".")
        owner = getattr(module, cls) if cls else module
        fn = vars(owner).get(name)
        assert inspect.isfunction(fn), f"{path}:{attr} is not a function"
        assert fn.__module__ == module.__name__, \
            f"{path}:{attr} is defined in {fn.__module__}"
        missing = READ_ARGS.get(name, set()) - set(
            inspect.signature(fn).parameters)
        assert not missing, f"{path}:{attr} lacks arguments {missing}"
