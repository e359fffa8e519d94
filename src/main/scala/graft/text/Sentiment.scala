package graft.text

import org.apache.spark.sql.Column

/** Lexicon sentiment scorer — TextBlob-like polarity (SURVEY.md §2.8:
  * ref demo.py:162-163 uses TextBlob's PatternAnalyzer). Contract
  * (range-compatible [-1,1], not bit-level TextBlob parity — the
  * reference inputs are missing so bit parity is untestable):
  *
  *  - lowercase token lookup in a polarity lexicon;
  *  - the token immediately before a hit modifies it: a negator
  *    multiplies by -0.5 (pattern's published negation rule), an
  *    intensifier scales it;
  *  - score = mean over matched tokens; no hits ⇒ 0.0.
  *
  * Polarities are kept in integer per-mille so aggregation is exact
  * integer arithmetic until one final division — the same trick the
  * oracle-checked queries use for bit-stable cross-engine compares.
  */
object Sentiment {

  /** Original compact lexicon (round ≤8) — values are PINNED by
    * SentimentSpec and the q31/q39/q70-series oracle history; never
    * change an entry here, only add to [[extended]]. */
  private[text] val core: Seq[(String, Int)] = Seq(
    "good" -> 700, "great" -> 800, "excellent" -> 1000, "amazing" -> 600,
    "awesome" -> 1000, "love" -> 500, "like" -> 200, "best" -> 1000,
    "nice" -> 600, "happy" -> 800, "fantastic" -> 400, "wonderful" -> 1000,
    "delicious" -> 1000, "fresh" -> 300, "tasty" -> 1000, "perfect" -> 1000,
    "fun" -> 300, "cool" -> 350, "sweet" -> 350, "favorite" -> 1000,
    "better" -> 500, "beautiful" -> 850, "win" -> 400, "right" -> 286,
    "bad" -> -700, "terrible" -> -1000, "awful" -> -1000, "worst" -> -1000,
    "hate" -> -800, "horrible" -> -1000, "gross" -> -600, "nasty" -> -800,
    "disgusting" -> -1000, "sad" -> -500, "angry" -> -500, "wrong" -> -500,
    "poor" -> -400, "disappointing" -> -600, "boring" -> -1000,
    "worse" -> -400, "sick" -> -700, "flat" -> -125, "stale" -> -500,
    "bitter" -> -300, "sour" -> -250, "expensive" -> -300, "cheap" -> -400,
    "slow" -> -300, "fast" -> 200, "dirty" -> -600, "clean" -> 300,
    "weird" -> -250, "fake" -> -500, "real" -> 200, "new" -> 136,
    "old" -> -100, "hot" -> 200, "cold" -> -100, "dry" -> -200,
    "smooth" -> 400, "rich" -> 400, "strong" -> 300, "weak" -> -300)

  /** Round-9 widening (VERDICT r8 item 4): the core's ~60 entries hit
    * real text far less often than TextBlob's ~2,900-entry pattern
    * lexicon does (ref demo.py:162). These additions are authored
    * from common-knowledge English sentiment vocabulary — adjectives,
    * adverbs, verbs and nouns with unambiguous valence, single-token
    * lowercase forms matching the tokenizer's output (contractions
    * like "can't" are negators, not lexicon entries). Values are
    * per-mille in [-1000, 1000], calibrated coarsely by strength
    * tier (±1000 unambiguous superlatives, ±700–900 strong, ±400–600
    * moderate, ±100–350 mild). SentimentCoverageSpec pins the hit
    * rate on a fixture vocabulary and the value-range invariant. */
  private[text] val extended: Seq[(String, Int)] = Seq(
    // ---- strong positive (superlatives, unambiguous praise)
    "outstanding" -> 1000, "superb" -> 1000, "magnificent" -> 1000,
    "brilliant" -> 900, "exceptional" -> 1000, "phenomenal" -> 1000,
    "marvelous" -> 1000, "splendid" -> 900, "sublime" -> 900,
    "flawless" -> 1000, "stellar" -> 900, "exquisite" -> 1000,
    "spectacular" -> 900, "glorious" -> 900, "superior" -> 700,
    "incredible" -> 900, "unbelievable" -> 600, "extraordinary" -> 900,
    "masterful" -> 800, "immaculate" -> 900, "ideal" -> 800,
    "fabulous" -> 900, "terrific" -> 900, "divine" -> 800,
    "heavenly" -> 900, "impeccable" -> 900, "peerless" -> 900,
    "matchless" -> 900, "unrivaled" -> 900, "unbeatable" -> 900,
    "first-rate" -> 900, "topnotch" -> 900, "world-class" -> 900,
    // ---- positive
    "pleasant" -> 600, "enjoyable" -> 600, "delightful" -> 800,
    "charming" -> 700, "lovely" -> 700, "graceful" -> 600,
    "elegant" -> 700, "stylish" -> 600, "classy" -> 600,
    "impressive" -> 700, "admirable" -> 700, "commendable" -> 600,
    "praiseworthy" -> 700, "remarkable" -> 600, "notable" -> 400,
    "satisfying" -> 600, "gratifying" -> 600, "rewarding" -> 600,
    "refreshing" -> 600, "invigorating" -> 600, "energizing" -> 500,
    "uplifting" -> 700, "inspiring" -> 700, "motivating" -> 500,
    "encouraging" -> 600, "promising" -> 500, "hopeful" -> 500,
    "optimistic" -> 600, "cheerful" -> 700, "joyful" -> 800,
    "joyous" -> 800, "jubilant" -> 800, "ecstatic" -> 900,
    "elated" -> 800, "thrilled" -> 800, "delighted" -> 800,
    "pleased" -> 600, "satisfied" -> 600, "content" -> 400,
    "grateful" -> 600, "thankful" -> 600, "appreciative" -> 500,
    "blessed" -> 600, "fortunate" -> 500, "lucky" -> 500,
    "glad" -> 600, "excited" -> 600, "eager" -> 400,
    "enthusiastic" -> 600, "passionate" -> 500, "devoted" -> 500,
    "loyal" -> 500, "faithful" -> 500, "trustworthy" -> 700,
    "reliable" -> 600, "dependable" -> 600, "consistent" -> 400,
    "honest" -> 600, "sincere" -> 500, "genuine" -> 500,
    "authentic" -> 500, "legitimate" -> 300, "fair" -> 400,
    "generous" -> 600, "kind" -> 600, "gentle" -> 500,
    "caring" -> 600, "compassionate" -> 700, "thoughtful" -> 600,
    "considerate" -> 600, "courteous" -> 500, "polite" -> 500,
    "friendly" -> 600, "warm" -> 500, "welcoming" -> 600,
    "hospitable" -> 600, "helpful" -> 600, "supportive" -> 600,
    "attentive" -> 500, "responsive" -> 500, "professional" -> 400,
    "skilled" -> 500, "skillful" -> 500, "talented" -> 600,
    "gifted" -> 600, "capable" -> 400, "competent" -> 400,
    "proficient" -> 500, "expert" -> 500, "knowledgeable" -> 500,
    "smart" -> 500, "clever" -> 500, "wise" -> 600,
    "intelligent" -> 600, "insightful" -> 600, "creative" -> 500,
    "innovative" -> 500, "original" -> 400, "unique" -> 300,
    "versatile" -> 400, "flexible" -> 300, "adaptable" -> 300,
    "efficient" -> 500, "effective" -> 500, "productive" -> 500,
    "powerful" -> 400, "robust" -> 400, "sturdy" -> 400,
    "durable" -> 500, "solid" -> 300, "stable" -> 300,
    "secure" -> 400, "safe" -> 400, "healthy" -> 500,
    "fit" -> 300, "vibrant" -> 600, "lively" -> 500,
    "dynamic" -> 400, "vigorous" -> 400, "thriving" -> 600,
    "flourishing" -> 600, "prosperous" -> 600, "successful" -> 600,
    "victorious" -> 700, "triumphant" -> 800, "winning" -> 500,
    "accomplished" -> 600, "achieved" -> 400, "improved" -> 400,
    "upgraded" -> 300, "enhanced" -> 400, "refined" -> 400,
    "polished" -> 400, "premium" -> 500, "luxurious" -> 600,
    "lavish" -> 400, "plush" -> 400, "cozy" -> 500,
    "comfortable" -> 500, "comfy" -> 500, "relaxing" -> 500,
    "soothing" -> 500, "calming" -> 500, "peaceful" -> 600,
    "serene" -> 600, "tranquil" -> 600, "quiet" -> 200,
    "harmonious" -> 500, "balanced" -> 300, "pure" -> 400,
    "pristine" -> 700, "spotless" -> 600, "tidy" -> 400,
    "neat" -> 400, "organized" -> 400, "crisp" -> 300,
    "crunchy" -> 300, "juicy" -> 400, "succulent" -> 600,
    "savory" -> 500, "flavorful" -> 600, "aromatic" -> 400,
    "fragrant" -> 400, "yummy" -> 800, "scrumptious" -> 900,
    "delectable" -> 800, "appetizing" -> 600, "mouthwatering" -> 700,
    "nutritious" -> 500, "wholesome" -> 500, "hearty" -> 400,
    "tender" -> 400, "creamy" -> 300, "fluffy" -> 300,
    "moist" -> 200, "zesty" -> 400, "tangy" -> 200,
    "affordable" -> 400, "inexpensive" -> 300, "economical" -> 300,
    "valuable" -> 500, "worthwhile" -> 500, "beneficial" -> 500,
    "advantageous" -> 500, "favorable" -> 500, "convenient" -> 400,
    "handy" -> 400, "useful" -> 500, "practical" -> 400,
    "functional" -> 300, "intuitive" -> 400, "seamless" -> 500,
    "effortless" -> 500, "simple" -> 200, "easy" -> 400,
    "straightforward" -> 300, "accessible" -> 300, "available" -> 200,
    "prompt" -> 400, "punctual" -> 400, "speedy" -> 400,
    "swift" -> 400, "quick" -> 300, "rapid" -> 200,
    "instant" -> 200, "timely" -> 400, "modern" -> 300,
    "sleek" -> 500, "shiny" -> 300, "bright" -> 400,
    "radiant" -> 700, "dazzling" -> 700, "stunning" -> 800,
    "gorgeous" -> 800, "attractive" -> 600, "appealing" -> 500,
    "alluring" -> 500, "captivating" -> 600, "enchanting" -> 700,
    "mesmerizing" -> 600, "fascinating" -> 600, "intriguing" -> 400,
    "engaging" -> 500, "entertaining" -> 500, "amusing" -> 400,
    "hilarious" -> 600, "funny" -> 400, "witty" -> 500,
    "humorous" -> 400, "playful" -> 400, "cheery" -> 600,
    "sunny" -> 400, "merry" -> 600, "festive" -> 500,
    "celebrated" -> 500, "acclaimed" -> 600, "renowned" -> 500,
    "famous" -> 300, "popular" -> 400, "beloved" -> 700,
    "adored" -> 700, "cherished" -> 700, "treasured" -> 700,
    "respected" -> 500, "esteemed" -> 600, "honored" -> 500,
    "dignified" -> 400, "noble" -> 500, "heroic" -> 600,
    "brave" -> 500, "courageous" -> 600, "bold" -> 300,
    "confident" -> 500, "assured" -> 400, "proud" -> 400,
    "humble" -> 300, "modest" -> 200, "patient" -> 400,
    "diligent" -> 400, "dedicated" -> 500, "committed" -> 400,
    "hardworking" -> 500, "ambitious" -> 300, "driven" -> 300,
    "thorough" -> 400, "meticulous" -> 400, "careful" -> 300,
    "precise" -> 400, "accurate" -> 500, "correct" -> 400,
    "proper" -> 300, "suitable" -> 300, "appropriate" -> 300,
    "decent" -> 300, "adequate" -> 200, "acceptable" -> 200,
    "satisfactory" -> 300, "okay" -> 200, "fine" -> 300,
    "alright" -> 200, "recommend" -> 600, "recommended" -> 600,
    "approve" -> 500, "approved" -> 400, "endorse" -> 500,
    "praise" -> 600, "praised" -> 600, "applaud" -> 600,
    "admire" -> 600, "adore" -> 800, "enjoy" -> 600,
    "enjoyed" -> 600, "loved" -> 600, "liked" -> 300,
    "appreciate" -> 500, "appreciated" -> 500, "impressed" -> 600,
    "amazed" -> 600, "astonished" -> 400, "wowed" -> 700,
    "thank" -> 400, "thanks" -> 400, "congratulations" -> 700,
    "congrats" -> 700, "bravo" -> 800, "kudos" -> 700,
    "cheers" -> 400, "yay" -> 700, "hooray" -> 800,
    "woohoo" -> 800, "hurrah" -> 700, "wow" -> 400,
    "smile" -> 500, "smiling" -> 500, "laugh" -> 400,
    "laughing" -> 400, "celebrate" -> 600, "celebrating" -> 600,
    "paradise" -> 800, "bliss" -> 900, "blissful" -> 900,
    "dream" -> 300, "dreamy" -> 500, "magic" -> 500,
    "magical" -> 600, "miracle" -> 600, "miraculous" -> 700,
    "gem" -> 600, "treasure" -> 600, "masterpiece" -> 900,
    "triumph" -> 700, "victory" -> 600, "success" -> 600,
    "benefit" -> 400, "bonus" -> 400, "reward" -> 400,
    "bargain" -> 400, "deal" -> 200, "freebie" -> 300,
    "upgrade" -> 300, "improvement" -> 400, "progress" -> 400,
    "growth" -> 300, "gain" -> 300, "profit" -> 300,
    "plus" -> 200, "positive" -> 500, "positively" -> 400,
    "well" -> 300, "greatly" -> 400, "nicely" -> 400,
    "beautifully" -> 700, "perfectly" -> 800, "wonderfully" -> 800,
    "superbly" -> 800, "brilliantly" -> 700, "excellently" -> 800,
    "happily" -> 600, "gladly" -> 500, "smoothly" -> 400,
    "easily" -> 300, "safely" -> 300, "fresher" -> 300,
    "tastier" -> 500, "cleaner" -> 300, "cheaper" -> 200,
    "faster" -> 300, "stronger" -> 300, "smarter" -> 300,
    "healthier" -> 400, "happier" -> 500, "brighter" -> 300,
    // ---- strong negative (unambiguous condemnation)
    "atrocious" -> -1000, "abysmal" -> -1000, "appalling" -> -900,
    "dreadful" -> -900, "horrendous" -> -1000, "horrid" -> -900,
    "hideous" -> -800, "ghastly" -> -800, "vile" -> -900,
    "repulsive" -> -900, "revolting" -> -900, "repugnant" -> -900,
    "loathsome" -> -900, "despicable" -> -900, "contemptible" -> -800,
    "detestable" -> -900, "abominable" -> -900, "deplorable" -> -800,
    "disastrous" -> -800, "catastrophic" -> -900, "calamitous" -> -800,
    "ruinous" -> -700, "unbearable" -> -800, "intolerable" -> -800,
    "insufferable" -> -800, "excruciating" -> -800, "agonizing" -> -800,
    "unacceptable" -> -700, "inexcusable" -> -700, "unforgivable" -> -800,
    "outrageous" -> -600, "scandalous" -> -600, "disgraceful" -> -700,
    "shameful" -> -700, "shameless" -> -500, "pathetic" -> -700,
    "pitiful" -> -600, "miserable" -> -800, "wretched" -> -800,
    "lousy" -> -700, "crummy" -> -600, "shoddy" -> -600,
    "trashy" -> -600, "junky" -> -500, "garbage" -> -700,
    "trash" -> -600, "junk" -> -500, "rubbish" -> -600,
    "worthless" -> -800, "useless" -> -700, "pointless" -> -600,
    "hopeless" -> -700, "helpless" -> -500, "futile" -> -500,
    // ---- negative
    "unpleasant" -> -600, "disagreeable" -> -500, "distasteful" -> -500,
    "unappealing" -> -500, "unattractive" -> -500, "ugly" -> -700,
    "unsightly" -> -500, "messy" -> -400, "cluttered" -> -300,
    "filthy" -> -800, "grimy" -> -500, "greasy" -> -300,
    "smelly" -> -600, "stinky" -> -600, "foul" -> -700,
    "rancid" -> -800, "rotten" -> -800, "spoiled" -> -600,
    "moldy" -> -700, "soggy" -> -400, "mushy" -> -300,
    "bland" -> -400, "tasteless" -> -500, "flavorless" -> -500,
    "unappetizing" -> -600, "inedible" -> -800, "undercooked" -> -500,
    "overcooked" -> -400, "burnt" -> -400, "salty" -> -100,
    "greedy" -> -500, "selfish" -> -500, "arrogant" -> -600,
    "rude" -> -700, "impolite" -> -500, "disrespectful" -> -600,
    "insulting" -> -600, "offensive" -> -600, "obnoxious" -> -600,
    "annoying" -> -600, "irritating" -> -600, "aggravating" -> -500,
    "infuriating" -> -700, "maddening" -> -600, "frustrating" -> -600,
    "exasperating" -> -500, "tiresome" -> -400, "tedious" -> -500,
    "dull" -> -400, "monotonous" -> -400, "dreary" -> -500,
    "bleak" -> -500, "gloomy" -> -500, "grim" -> -500,
    "dismal" -> -600, "depressing" -> -700, "depressed" -> -600,
    "unhappy" -> -600, "sorrowful" -> -600, "mournful" -> -500,
    "grieving" -> -500, "heartbroken" -> -700, "devastated" -> -700,
    "crushed" -> -400, "shattered" -> -400, "distressed" -> -500,
    "upset" -> -500, "troubled" -> -400, "worried" -> -400,
    "anxious" -> -400, "nervous" -> -300, "afraid" -> -400,
    "scared" -> -400, "terrified" -> -600, "horrified" -> -700,
    "frightened" -> -400, "fearful" -> -400, "panicked" -> -400,
    "alarmed" -> -300, "shocked" -> -300, "disturbed" -> -400,
    "uncomfortable" -> -400, "uneasy" -> -300, "awkward" -> -300,
    "embarrassed" -> -400, "embarrassing" -> -400, "humiliating" -> -600,
    "degrading" -> -600, "insulted" -> -500, "offended" -> -400,
    "betrayed" -> -600, "cheated" -> -600, "deceived" -> -500,
    "scammed" -> -700, "swindled" -> -600, "robbed" -> -500,
    "dishonest" -> -600, "deceptive" -> -500, "misleading" -> -500,
    "fraudulent" -> -700, "corrupt" -> -700, "crooked" -> -500,
    "shady" -> -400, "suspicious" -> -300, "untrustworthy" -> -600,
    "unreliable" -> -600, "inconsistent" -> -300, "unstable" -> -400,
    "unsafe" -> -500, "dangerous" -> -500, "hazardous" -> -500,
    "risky" -> -300, "harmful" -> -500, "damaging" -> -400,
    "destructive" -> -500, "toxic" -> -600, "poisonous" -> -600,
    "contaminated" -> -600, "polluted" -> -500, "infested" -> -700,
    "broken" -> -500, "damaged" -> -400, "defective" -> -600,
    "faulty" -> -500, "flawed" -> -400, "malfunctioning" -> -500,
    "glitchy" -> -400, "buggy" -> -500, "unusable" -> -700,
    "unworkable" -> -500, "impractical" -> -300, "inconvenient" -> -400,
    "cumbersome" -> -300, "clunky" -> -400, "clumsy" -> -300,
    "sloppy" -> -500, "careless" -> -400, "negligent" -> -500,
    "reckless" -> -400, "incompetent" -> -600, "inept" -> -500,
    "unqualified" -> -400, "unprofessional" -> -500, "amateurish" -> -400,
    "mediocre" -> -300, "inferior" -> -500, "substandard" -> -500,
    "subpar" -> -400, "lacking" -> -300, "deficient" -> -400,
    "inadequate" -> -400, "insufficient" -> -300, "incomplete" -> -200,
    "unfinished" -> -200, "failed" -> -500, "failing" -> -400,
    "failure" -> -600, "flop" -> -500, "fiasco" -> -600,
    "debacle" -> -600, "disaster" -> -700, "catastrophe" -> -800,
    "tragedy" -> -700, "tragic" -> -700, "crisis" -> -400,
    "chaos" -> -400, "chaotic" -> -400, "disorganized" -> -300,
    "confusing" -> -400, "confused" -> -300, "bewildering" -> -300,
    "perplexing" -> -200, "unclear" -> -200, "vague" -> -200,
    "ambiguous" -> -100, "complicated" -> -200, "convoluted" -> -300,
    "difficult" -> -300, "hard" -> -200, "tough" -> -200,
    "harsh" -> -400, "severe" -> -300, "brutal" -> -500,
    "cruel" -> -700, "vicious" -> -600, "savage" -> -400,
    "violent" -> -500, "aggressive" -> -300, "hostile" -> -500,
    "mean" -> -400, "spiteful" -> -500, "malicious" -> -600,
    "hateful" -> -700, "bigoted" -> -700, "prejudiced" -> -500,
    "unfair" -> -500, "unjust" -> -500, "biased" -> -300,
    "painful" -> -500, "hurtful" -> -500, "hurt" -> -400,
    "suffering" -> -500, "agony" -> -700, "misery" -> -700,
    "torment" -> -600, "torture" -> -700, "nightmare" -> -700,
    "dread" -> -500, "despair" -> -700, "desperate" -> -400,
    "grief" -> -500, "sorrow" -> -500, "regret" -> -400,
    "remorse" -> -300, "guilt" -> -300, "ashamed" -> -500,
    "disappointed" -> -600, "dissatisfied" -> -500, "displeased" -> -500,
    "disgusted" -> -700, "appalled" -> -600, "dismayed" -> -400,
    "disheartened" -> -400, "discouraged" -> -400, "demoralized" -> -500,
    "jealous" -> -400, "envious" -> -300, "resentful" -> -400,
    "bitterly" -> -400, "furious" -> -700, "enraged" -> -700,
    "livid" -> -700, "irate" -> -600, "outraged" -> -600,
    "annoyed" -> -400, "irritated" -> -400, "agitated" -> -300,
    "grumpy" -> -400, "cranky" -> -400, "moody" -> -300,
    "sulky" -> -300, "whiny" -> -400, "complaining" -> -300,
    "complain" -> -300, "complaint" -> -300, "criticize" -> -300,
    "criticized" -> -300, "condemn" -> -500, "condemned" -> -500,
    "blame" -> -300, "blamed" -> -300, "accuse" -> -300,
    "accused" -> -300, "reject" -> -400, "rejected" -> -400,
    "refuse" -> -300, "refused" -> -300, "deny" -> -200,
    "denied" -> -300, "ignore" -> -300, "ignored" -> -400,
    "neglected" -> -500, "abandoned" -> -500, "forgotten" -> -300,
    "lost" -> -300, "losing" -> -300, "loss" -> -400,
    "lose" -> -300, "waste" -> -400, "wasted" -> -500,
    "wasteful" -> -400, "overpriced" -> -500, "costly" -> -300,
    "pricey" -> -300, "exorbitant" -> -500, "ripoff" -> -700,
    "scam" -> -800, "fraud" -> -700, "hoax" -> -600,
    "lie" -> -500, "lying" -> -500, "liar" -> -600,
    "lied" -> -500, "cheat" -> -500, "stealing" -> -500,
    "theft" -> -500, "crime" -> -400, "criminal" -> -500,
    "illegal" -> -400, "banned" -> -300, "forbidden" -> -200,
    "problem" -> -300, "problematic" -> -400, "issue" -> -200,
    "trouble" -> -400, "error" -> -400, "mistake" -> -400,
    "fault" -> -300, "defect" -> -400, "flaw" -> -300,
    "bug" -> -300, "glitch" -> -300, "crash" -> -400,
    "crashed" -> -400, "freeze" -> -200, "frozen" -> -200,
    "stuck" -> -300, "delayed" -> -400, "delay" -> -300,
    "late" -> -300, "missed" -> -300, "missing" -> -300,
    "unavailable" -> -300, "shortage" -> -300, "scarce" -> -200,
    "empty" -> -200, "hollow" -> -200, "shallow" -> -300,
    "fell" -> -100, "falling" -> -200, "decline" -> -300,
    "declining" -> -300, "deteriorating" -> -500, "worsening" -> -500,
    "degraded" -> -400, "downgrade" -> -300, "negative" -> -500,
    "negatively" -> -400, "badly" -> -600, "poorly" -> -500,
    "terribly" -> -700, "horribly" -> -800, "awfully" -> -500,
    "painfully" -> -400, "sadly" -> -400, "unfortunately" -> -400,
    "regrettably" -> -400, "woefully" -> -500, "dire" -> -500,
    "grave" -> -400, "serious" -> -200, "severely" -> -400,
    "ill" -> -500, "unwell" -> -400, "diseased" -> -600,
    "infected" -> -500, "injured" -> -400, "wounded" -> -400,
    "bleeding" -> -400, "dying" -> -600, "dead" -> -500,
    "deadly" -> -600, "fatal" -> -600, "lethal" -> -500,
    "killed" -> -500, "destroyed" -> -500, "ruined" -> -600,
    "wrecked" -> -500, "crippled" -> -500, "paralyzed" -> -400,
    "exhausted" -> -400, "tired" -> -300, "fatigued" -> -300,
    "weary" -> -300, "drained" -> -300, "burnout" -> -500,
    "stressed" -> -400, "stressful" -> -500, "overwhelmed" -> -300,
    "hungry" -> -200, "starving" -> -400, "thirsty" -> -100,
    "noisy" -> -300, "loud" -> -200, "crowded" -> -300,
    "cramped" -> -300, "tiny" -> -100, "huge" -> 100,
    "enormous" -> 100, "massive" -> 100, "giant" -> 100)

  /** Token → per-mille polarity. Built from [[core]] ++ [[extended]]
    * with a loud duplicate guard: a word accidentally listed twice
    * would silently resolve to whichever entry Map keeps, changing
    * pinned scores. */
  val lexicon: Map[String, Int] = {
    val all = core ++ extended
    val dups = all.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate lexicon entries: ${dups.mkString(", ")}")
    require(all.forall { case (_, v) => v >= -1000 && v <= 1000 },
      "lexicon polarity outside per-mille range")
    all.toMap
  }

  /** Includes whole contraction tokens: the tokenizer keeps "don't"
    * as one token, so a bare "n't" entry would never match. */
  val negators: Set[String] =
    Set("not", "no", "never", "cannot", "neither", "nor", "hardly",
      "don't", "doesn't", "didn't", "can't", "won't", "isn't", "wasn't",
      "aren't", "weren't", "couldn't", "shouldn't", "wouldn't", "ain't")

  /** intensifier → per-mille multiplier (1000 = ×1). */
  val intensifiers: Map[String, Int] = Map(
    "very" -> 1300, "really" -> 1300, "extremely" -> 1500, "so" -> 1200,
    "too" -> 1200, "totally" -> 1300, "absolutely" -> 1500,
    "slightly" -> 700, "somewhat" -> 800, "barely" -> 600)

  /** Integer core: Σ adjusted per-mille² and hit count. Final score =
    * sumAdj / (n * 1e6).
    *
    * Negation window is 2 with intensifier passthrough (the
    * pattern-library rule SURVEY §2.8 documents, ref demo.py:162):
    * a negator directly before the hit, OR two before it with an
    * intensifier in between ("not very good"), flips ×−0.5. Any other
    * i−1 token blocks the window — "not the good" is NOT negated. */
  def scoreParts(tokens: Seq[String]): (Long, Int) = {
    var sum = 0L
    var n = 0
    var i = 0
    // Locale.ROOT: default-locale lowercasing diverges from Spark's
    // lower()/DuckDB's lower() under e.g. a Turkish JVM locale
    val lower = tokens.map(t =>
      if (t == null) "" else t.toLowerCase(java.util.Locale.ROOT))
    while (i < lower.length) {
      lexicon.get(lower(i)).foreach { pol =>
        val mod =
          if (i > 0 && negators(lower(i - 1))) -500
          else if (i > 1 && intensifiers.contains(lower(i - 1)) &&
            negators(lower(i - 2))) -500
          else if (i > 0) intensifiers.getOrElse(lower(i - 1), 1000)
          else 1000
        sum += pol.toLong * mod
        n += 1
      }
      i += 1
    }
    (sum, n)
  }

  def score(tokens: Seq[String]): Double = {
    val (sum, n) = scoreParts(tokens)
    if (n == 0) 0.0 else sum.toDouble / n / 1000000.0
  }

  /** The pipeline's Column scorer: [[Tokenizer]]'s regex tokens (so
    * "great!" still scores) through the one scoring expression,
    * graft.functions.SentimentScore. A null text scores 0.0. */
  def sentimentColumnNative(text: Column): Column =
    graft.functions.SentimentScore(Tokenizer.tokenizeColumn(text))
}
