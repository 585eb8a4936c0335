"""Every module of the package imports, and every name in its __all__
resolves, so `from module import *` cannot raise on a dangling export."""

import importlib
import pkgutil

import go_muse_spark


def test_every_all_name_resolves():
    names, dangling = 0, []
    for info in pkgutil.walk_packages(go_muse_spark.__path__, "go_muse_spark."):
        mod = importlib.import_module(info.name)
        for name in getattr(mod, "__all__", ()):
            names += 1
            if not hasattr(mod, name):
                dangling.append(f"{info.name}.{name}")
    assert dangling == []
    assert names > 0
