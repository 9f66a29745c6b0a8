"""DataFrame-level plumbing over the sketches: the two-phase kernel
(``sketch_ops``), the t-digest operators (``tdigest_ops``), the SQL
surface (``sql``), sessions (``session``) and the query catalog
(``queries``), among others."""
