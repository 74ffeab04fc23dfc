"""Product-path benchmark for the event router: ``run.py`` is the
entry point; see README.md for workloads and metrics."""
