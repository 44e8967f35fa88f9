"""deepkg_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference KG toolkit (powerycy/DeepKg,
read-only at /root/reference) as idiomatic Spark DataFrame plans:

- mention detection (GlobalPointer-style span decode) as vectorized Arrow UDFs
  with a JVM-side regexp fast path            -> operators/mentions.py
- relation classification into (subj,pred,obj) triples
                                              -> operators/relations.py
- entity linking (broadcast alias dict, BM25-as-join, dense cosine top-K)
                                              -> operators/linking.py
- canonicalization / dedup (salted two-phase groupBy)
                                              -> operators/canonicalize.py
- graph materialize (node/edge tables)        -> operators/graph.py
- phrase-mining statistics (PMI/IDF/entropy)  -> operators/phrases.py
- corpus-scale dedup (exact / MinHash-LSH / SimHash / Jaccard / embedding)
                                              -> operators/dedup.py
- similarity search (brute-force + LSH ANN)   -> operators/similarity.py
- text analysis (lang-id, quality, tokens, fingerprints)
                                              -> operators/textstats.py
- distant supervision (trie match + DP segmentation)
                                              -> operators/distant.py
- multiset P/R/F1 scorer (reference parity)   -> metrics.py
- per-partition checkpoint manifest + resume  -> checkpoint.py

Everything is DataFrame/SQL-first; Python appears only inside Arrow-batched
pandas UDFs (never per-row Python UDFs).
"""
