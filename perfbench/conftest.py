def pytest_configure(config):
    config.addinivalue_line("markers", "smoke: starts Spark through perfbench/run.py")
