"""Pure-Python parts of the graft benchmark: input generation, output
checks, statistics and span self-time accounting."""
