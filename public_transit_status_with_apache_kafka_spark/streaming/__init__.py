"""Structured-Streaming lift of the engine (SURVEY.md section 7.1 M3-M4).

The batch operators in operators/cta_views.py are source-agnostic; this
package runs them continuously:
  views.py   -- streaming queries for the four derived views (memory sink
                for serving snapshots)
  state.py   -- applyInPandasWithState train tracker (A4/X3), the one
                genuinely stateful operator
  harness.py -- fixture stream replay for the registered stream queries:
                scratch, state-store count, ordered delivery, drain
"""
