"""Oracle-checked benchmark of the engine: see perfbench/README.md."""
