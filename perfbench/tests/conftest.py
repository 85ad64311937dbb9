import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import pytest  # noqa: E402


@pytest.fixture
def restore_modules():
    """Undo ``Tracer.install``: put every package module's globals back."""
    from ml_training_data_pipeline_spark.plans import registry

    registry._load_all()
    pkg = "ml_training_data_pipeline_spark"
    saved = {n: dict(vars(m)) for n, m in sys.modules.items() if n.startswith(pkg) and m}
    yield
    for n, globs in saved.items():
        vars(sys.modules[n]).update(globs)
