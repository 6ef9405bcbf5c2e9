def pytest_configure(config):
    config.addinivalue_line("markers", "smoke: runs the benchmark in a subprocess (slow)")
