#!/bin/sh
# Prints the engine's lines of code: every Scala source under src/main,
# concatenated and counted (the figure CHANGES.md and ROADMAP.md report).
# Run from anywhere inside the repository.
cd "$(git rev-parse --show-toplevel)" || exit 1
find src/main -name '*.scala' | xargs cat | wc -l
